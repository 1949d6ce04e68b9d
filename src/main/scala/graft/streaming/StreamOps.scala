package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SessionBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.queries.QueryDef

/** Open-session state for streaming sessionization (s02). */
final case class SessionState(sid: Long, startUs: Long, endUs: Long, n: Long)
/** One finalized session. */
final case class SessionOut(user_id: Long, sid: Long, start_us: Long,
                            end_us: Long, n_events: Long)

/** Per-fingerprint dedup state (s03): the winning (minimum) doc id,
  * duplicate count, and the latest ingest time seen. */
final case class DedupState(minId: Long, n: Long, maxUs: Long)
/** One evicted dedup group. */
final case class DedupOut(fp: String, survivor_id: Long, n_dups: Long,
                          last_seen_us: Long)

/** Structured Streaming surface. The reference is bounded-batch only
  * (every source is a BoundedSource, range_source.py:29 — SURVEY §2.9),
  * so this goes beyond parity: the same event tables processed as a
  * stream, with event-time windows and watermark-driven finalization.
  *
  * The pipeline shape is the production one — `readStream` → event-time
  * window aggregation with a watermark → sink; at 100 TB the sink is
  * files/Kafka and the trigger a real schedule. Here the bounded run
  * uses Trigger.AvailableNow and a foreachBatch parquet sink (a real
  * file store) so the result is a
  * DataFrame the oracle gate can hash: append mode emits exactly the
  * windows the final watermark passes, which is deterministic on
  * bounded input (windows ending after the last event stay open and
  * unemitted — the oracle replicates that cutoff).
  */
object StreamOps {

  /** Hour-axis template bounds of the events table — (h0us, hours) —
    * memoized per file VINTAGE (path + size + mtime, the same key as
    * the loader caches): plan-time template metadata that s07/s09/s10
    * each re-derived with an identical min/max aggregation job over an
    * immutable file (~0.2 s apiece). Same idiom as XbeamQueries' cached
    * row count — a scalar property of the input, not a query result. */
  private val hourBoundsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def eventsHourBounds(s: SparkSession, dir: String): (Long, Long) =
    hourBoundsCache.computeIfAbsent(
      graft.queries.Tables.tsKey(s"$dir/events.parquet"), { _ =>
        val ev = graft.queries.Tables.loadEvents(s, s"$dir/events.parquet")
        val b = ev.agg(
          unix_micros(date_trunc("hour", min(col("ts")))).as("lo"),
          unix_micros(date_trunc("hour", max(col("ts")))).as("hi")).head()
        val h0us = b.getLong(0)
        (h0us, (b.getLong(1) - h0us) / 3600000000L + 1)
      })

  /** events as a stream with `ts` normalized to a session-UTC
    * TIMESTAMP. readStream needs the schema up front, and the table data
    * has shipped `ts` as both TIMESTAMP(NANOS) (loads as BIGINT) and
    * timestamp[us] (loads as TIMESTAMP_NTZ) across vintages — so probe
    * the batch footer first and declare `ts` as whatever it actually
    * is, then convert with the same shared rule as the batch path
    * (Tables.normalizeTs). Declaring a wrong type here is SILENT
    * corruption (r11: LongType over a micros file read raw micros as
    * nanos and 4 of 5 stream gates returned wrong rows) — the batch
    * loadEvents call also runs the once-per-path epoch sanity check so
    * drift fails loudly before any stream starts. The probe and the
    * check run here, on the caller's session and before its stream
    * session is cloned; the returned function builds the stream on the
    * session it is given. */
  private def eventsStream(s: SparkSession, dir: String): SparkSession => DataFrame = {
    val path = s"$dir/events.parquet"
    val rawType = graft.queries.Tables.eventsTsType(s, path)
    graft.queries.Tables.loadEvents(s, path) // epoch sanity check (memoized)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", rawType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    ss => graft.queries.Tables.normalizeTs(ss,
      ss.readStream.schema(schema).option("pathGlobFilter", "events.parquet")
        .parquet(dir), rawType, path)
  }

  /** Bytes on disk under `path` (a file or a directory tree): the input
    * size a stream's state partitions are sized from. */
  private[graft] def inputBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally walk.close()
    }
  }

  /** The session a bounded stream runs on: a clone of the caller's `s`
    * (its runtime confs, temp views, functions and QueryExecutionListeners)
    * that carries the run's own settings, so the stream path never writes
    * a conf of the caller's session (a flip-and-restore there races with
    * any concurrent query on it).
    *
    *  - State partitions (`spark.sql.shuffle.partitions`, fixed when the
    *    fresh checkpoint is created): one per advisory-sized slice of the
    *    input, at most the cores. Every state partition pays a store
    *    commit per micro-batch — delta file, checksum file and a `chmod`
    *    fork each — whatever it holds, and the key spaces here are
    *    thousands of keys; s01 at sf0.01 ran 8 state tasks of 200-340 ms
    *    wall (20-80 ms CPU) per batch. The two session values are only
    *    read.
    *  - `noDataBatch = false` skips the trailing zero-row micro-batch that
    *    AvailableNow otherwise runs to advance the watermark. ONLY legal
    *    when that batch can emit nothing (see s05 and s10).
    *  - Artifact isolation off, unless the caller's session holds
    *    session-scoped artifacts. Each stream runs on its own clone of
    *    this session; with isolation on, every clone's new session id
    *    gets a new executor class loader, and the codegen cache (keyed on
    *    loader + source) then compiled the same 18 classes on every s01
    *    run. Without it the stream's tasks share the executor's default
    *    loader with the caller's batch jobs.
    *  - The caller's StreamingQueryListeners, so they still see the
    *    stream, then a listener that unregisters the clone's listener bus
    *    once the query has terminated (it delivers last, after the
    *    caller's listeners).
    *
    * The session runs ONE stream: see [[runBounded]]. */
  private def boundedStreamSession(s: SparkSession, inputBytes: Long,
                                  noDataBatch: Boolean): SparkSession = {
    val advisory = s.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val parts = math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
      (inputBytes + advisory - 1) / advisory))
    val ss = SessionBridge.cloneSession(s)
    ss.conf.set("spark.sql.shuffle.partitions", parts.toString)
    if (!noDataBatch)
      ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    if (!SessionBridge.hasSessionArtifacts(s))
      ss.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s.streams.listListeners().foreach(ss.streams.addListener)
    ss.streams.addListener(new BusRelease(ss))
    ss
  }

  /** Unregisters its session's streaming listener bus after the query's
    * terminate event was delivered to every listener before it. */
  private final class BusRelease(ss: SparkSession) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      release()
    def release(): Unit = SessionBridge.detachStreamingBus(ss, this)
  }

  /** Run one bounded stream to completion on a [[boundedStreamSession]]:
    * `start` gets that session and a fresh checkpoint directory and
    * starts the query. Checkpoints go to tmpfs when available (the
    * bounded run has no recovery story to preserve; a production job
    * points this at durable storage) and are removed afterwards, also
    * when the plan or start() throws. */
  private[graft] def runBounded(s: SparkSession, prefix: String, inputBytes: Long,
                                noDataBatch: Boolean = true)
                               (start: (SparkSession, String) => StreamingQuery): Unit = {
    val ss = boundedStreamSession(s, inputBytes, noDataBatch)
    val ckpt = (if (java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get("/dev/shm"))) "/dev/shm/" else
        System.getProperty("java.io.tmpdir") + "/") +
      prefix + "_" + java.util.UUID.randomUUID.toString.replace("-", "") + "_ckpt"
    var q: StreamingQuery = null
    try {
      q = start(ss, ckpt)
      q.awaitTermination()
    } finally {
      // a query that never started posts no terminate event
      if (q == null) ss.streams.listListeners().foreach {
        case r: BusRelease => r.release()
        case _ => ()
      }
      try graft.core.Fs.deleteRecursively(ckpt)
      catch { case _: Throwable => () }
    }
  }

  /** Pin the admission order of a stream's span files: one write job
    * produces every `batchK.parquet` with the same mtime, and the file
    * source admits files in mtime order (ties in an unspecified order),
    * so give file k a strictly increasing mtime — the k-th micro-batch
    * then reads span k. Fails loudly if the file system kept a tie. */
  private def pinSpanOrder(files: Seq[java.nio.file.Path]): Unit = {
    val base = System.currentTimeMillis() - 60000L
    files.zipWithIndex.foreach { case (f, k) =>
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(base + k * 2000L))
    }
    val mt = files.map(java.nio.file.Files.getLastModifiedTime(_).toMillis)
    require(mt.zip(mt.drop(1)).forall { case (a, b) => a < b },
      s"span file mtimes do not increase with the span index: " +
        files.map(_.getFileName).zip(mt).mkString(", "))
  }

  /** Run a bounded stream to completion through `foreachBatch` into a
    * REAL file store (parquet under target/stream_sink, the same
    * scratch root the zarr gates use) and return a reader over it —
    * the shared tail of every sNN gate. foreachBatch + append-mode
    * parquet is the production sink shape (each micro-batch appends
    * exactly the rows the mode finalizes; at 100 TB the same call
    * targets an object store or a table format), so no gate depends
    * on the demo-only in-memory sink. `build` gets the stream's session
    * (see [[runBounded]]; `inputBytes` sizes its state partitions) and
    * returns the stream.
    *
    * `mode = "complete"` (the s08 shape — a complete-mode aggregate
    * finalizes the FULL result every micro-batch) writes each epoch
    * over the single `latest` directory so the last epoch wins —
    * idempotent under replay exactly like the append variant's
    * per-batch dirs. This is what retires the demo-only memory sink.
    *
    * `noDataBatch = false` is for streams whose finalize batch emits
    * nothing: a stream-stream INNER join (s05) emits on match during
    * data batches and the finalize batch only evicts state. Append-mode
    * window aggregations and event-time timeouts (s01/s02/s03/s04/s06)
    * EMIT in that batch — they must keep it. Measured ~0.8-1.0 s of
    * pure fixed cost per skipped batch. */
  private[graft] def runToFileSink(s: SparkSession, prefix: String,
                                   inputBytes: Long,
                                   mode: String = "append",
                                   noDataBatch: Boolean = true)
                                  (build: SparkSession => DataFrame): DataFrame = {
    val sinkRoot = java.nio.file.Paths.get("target", "stream_sink")
      .toAbsolutePath
    // a rep of the same gate reclaims the previous rep's sink dir
    // (its result was consumed when that rep returned), so disk use
    // stays bounded at one dir per gate across bench/spec repetitions
    // instead of growing a UUID dir per run
    if (java.nio.file.Files.isDirectory(sinkRoot)) {
      val it = java.nio.file.Files.list(sinkRoot).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith(prefix + "_"))
          try graft.core.Fs.deleteRecursively(p.toString)
          catch { case _: Throwable => () }
      }
    }
    val out = sinkRoot.resolve(
      prefix + "_" + java.util.UUID.randomUUID.toString.replace("-", "")).toString
    var schema: StructType = null
    runBounded(s, prefix, inputBytes, noDataBatch) { (ss, ckpt) =>
      val df = build(ss)
      schema = df.schema
      // one OVERWRITTEN directory per micro-batch: a retried/replayed
      // epoch rewrites its own b<id> path instead of appending a
      // duplicate copy, restoring the exactly-once reads the old
      // file-sink manifest gave (foreachBatch alone is at-least-once)
      df.writeStream
        .foreachBatch { (bdf: DataFrame, batchId: Long) =>
          val dst = if (mode == "complete") s"$out/latest" else s"$out/b$batchId"
          bdf.write.mode("overwrite").parquet(dst)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    }
    // a run whose batches all finalized zero rows may never have
    // appended a file — surface the (legitimate) empty result rather
    // than a reader error
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(out)))
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
    else s.read.schema(schema)
      .option("recursiveFileLookup", "true").parquet(out)
  }

  val defs: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- s01
    // Hourly event-time windows with a zero-delay watermark, append
    // output: only windows whose end the final watermark (= max event
    // time) has passed are emitted. One shuffle (window+type keys) with
    // streaming partial aggregation — the unbounded-data shape of q16.
    QueryDef(
      "s01_stream_hourly_windows",
      (s, dir) => {
        // streaming aggregation keeps one state store per state
        // partition per micro-batch; the window×type key space is tiny,
        // so the input-sized count (one partition below the advisory
        // size) commits one store per batch instead of one per core
        val events = eventsStream(s, dir)
        runToFileSink(s, "s01_sink", inputBytes(s"$dir/events.parquet")) { ss =>
          val stream = events(ss)
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n_events"),
                 sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
            .select(unix_micros(col("window.start")).as("hour_start_us"),
                    col("event_type"), col("n_events"), col("sum_value"))
          stream
        }.orderBy("hour_start_us", "event_type")
      },
      Some("""
        WITH ev AS (SELECT *, time_bucket(INTERVAL 1 HOUR, ts) AS hour_start FROM events)
        SELECT epoch_us(hour_start) AS hour_start_us, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM ev
        WHERE hour_start + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
        GROUP BY 1, 2 ORDER BY hour_start_us, event_type""")),

    // ---------------------------------------------------------------- s02
    // Stateful sessionization: per-user sessions with a 30-minute
    // inactivity gap via flatMapGroupsWithState + EventTimeTimeout —
    // the arbitrary-state streaming surface. Sessions closed by a later
    // in-stream event emit immediately; each user's open tail session
    // emits only when the event-time timeout fires (watermark past
    // end + gap, millisecond precision — the oracle replicates both
    // rules, including the ms floor).
    QueryDef(
      "s02_stream_sessions",
      (s, dir) => {
        import s.implicits._
        val events = eventsStream(s, dir)
        runToFileSink(s, "s02_sink", inputBytes(s"$dir/events.parquet")) { ss =>
          val gapUs = 30L * 60 * 1000000
          val stream = events(ss)
            .withWatermark("ts", "0 seconds")
            // the watermarked event-time column must flow into the
            // stateful operator for EventTimeTimeout to engage
            .select($"user_id", unix_micros($"ts").as("ts_us"), $"ts")
            .as[(Long, Long, java.sql.Timestamp)]
          val sessions = stream.groupByKey(_._1)
            .flatMapGroupsWithState[SessionState, SessionOut](
              OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
              (uid: Long, events: Iterator[(Long, Long, java.sql.Timestamp)],
               state: GroupState[SessionState]) =>
                if (state.hasTimedOut) {
                  val st = state.get
                  state.remove()
                  Iterator(SessionOut(uid, st.sid, st.startUs, st.endUs, st.n))
                } else {
                  // events within a batch arrive unordered — sessionize in
                  // event-time order, resuming from any open session
                  val ts = events.map(_._2).toArray.sorted
                  val closed = Seq.newBuilder[SessionOut]
                  var cur = state.getOption.orNull
                  ts.foreach { t =>
                    cur match {
                      case null => cur = SessionState(1L, t, t, 1L)
                      case st if t - st.endUs > gapUs =>
                        closed += SessionOut(uid, st.sid, st.startUs, st.endUs, st.n)
                        cur = SessionState(st.sid + 1, t, t, 1L)
                      case st =>
                        cur = st.copy(endUs = math.max(st.endUs, t), n = st.n + 1)
                    }
                  }
                  state.update(cur)
                  // fire once the watermark (ms precision) passes end + gap
                  state.setTimeoutTimestamp(cur.endUs / 1000 + gapUs / 1000)
                  closed.result().iterator
                }
            }
          sessions.toDF()
        }.orderBy("user_id", "sid")
      },
      Some("""
        WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        m AS (SELECT user_id, ts_us,
                CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        sess AS (SELECT user_id, ts_us,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                                    ROWS UNBOUNDED PRECEDING) AS sid
                 FROM m),
        agg AS (SELECT user_id, CAST(sid AS BIGINT) AS sid,
                       min(ts_us) AS start_us, max(ts_us) AS end_us,
                       count(*) AS n_events
                FROM sess GROUP BY 1, 2),
        mx AS (SELECT user_id, max(sid) AS max_sid FROM agg GROUP BY user_id),
        gm AS (SELECT max(ts_us) AS max_us FROM e)
        SELECT a.user_id, a.sid, a.start_us, a.end_us, a.n_events
        FROM agg a JOIN mx USING (user_id), gm
        WHERE a.sid < mx.max_sid
           OR a.end_us // 1000 + 1800000 < gm.max_us // 1000
        ORDER BY a.user_id, a.sid"""))
    ,

    // ---------------------------------------------------------------- s04
    // SLIDING event-time windows (1 hour long, sliding every 15
    // minutes): each event lands in 4 overlapping windows — the
    // trending-metrics shape (rolling rate over the last hour,
    // refreshed per slide). Same watermark/append discipline as s01:
    // only windows whose end the final watermark passed emit; the
    // oracle replicates the slide-grid window assignment with a
    // 4-way unnest.
    QueryDef(
      "s04_stream_sliding_windows",
      (s, dir) => {
        val events = eventsStream(s, dir)
        runToFileSink(s, "s04_sink", inputBytes(s"$dir/events.parquet")) { ss =>
          val stream = events(ss)
            .withWatermark("ts", "0 seconds")
            .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
            .agg(count(lit(1)).as("n_events"))
            .select(unix_micros(col("window.start")).as("win_start_us"),
                    col("event_type"), col("n_events"))
          stream
        }.orderBy("win_start_us", "event_type")
      },
      Some("""
        WITH ev AS (SELECT *, time_bucket(INTERVAL 15 MINUTE, ts) AS b FROM events),
        w AS (SELECT ev.*, b - k * (INTERVAL 15 MINUTE) AS win_start
              FROM ev, unnest(range(4)) AS t(k))
        SELECT epoch_us(win_start) AS win_start_us, event_type,
               count(*) AS n_events
        FROM w
        WHERE win_start + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
        GROUP BY 1, 2 ORDER BY win_start_us, event_type""")),

    // ---------------------------------------------------------------- s05
    // Stream-stream interval join (event attribution): each purchase
    // joins the same user's views from the preceding 6 hours. Both
    // sides carry watermarks and the range condition bounds the join
    // STATE on each side (Spark evicts view-state once the purchase
    // watermark passes view ts + 6h — state is interval-bounded, not
    // unbounded). Inner joins emit on match, no append-mode window
    // cutoff, so the bounded result is exactly the batch interval
    // join — the oracle runs it directly. Timestamps are µs-granular
    // in the data, so µs (stream) vs ns (oracle) comparisons agree.
    QueryDef(
      "s05_stream_interval_join",
      (s, dir) => {
        // inner join: every result row is emitted by the data batch that
        // completes its match; the no-data finalize batch only evicts
        // state and emitted nothing (probed: 0 rows, ~1.0 s) — skip it
        val events = eventsStream(s, dir)
        runToFileSink(s, "s05_sink", inputBytes(s"$dir/events.parquet"),
            noDataBatch = false) { ss =>
          def side(tag: String, typ: String) = events(ss)
            .filter(col("event_type") === typ)
            .select(col("event_id").as(s"${tag}_id"),
                    col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"))
            .withWatermark(s"${tag}_ts", "0 seconds")
          val joined = side("v", "view").join(side("p", "purchase"),
              expr("v_user = p_user AND p_ts >= v_ts AND " +
                   "p_ts <= v_ts + interval 6 hours"))
            .select(col("v_id"), col("p_id"), col("v_user").as("user_id"),
              (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
          joined
        }.orderBy("v_id", "p_id")
      },
      Some("""
        SELECT a.event_id AS v_id, b.event_id AS p_id, a.user_id,
               epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
        ORDER BY v_id, p_id""")),

    // ---------------------------------------------------------------- s03
    // Streaming exact dedup with bounded state — the ingestion-side
    // dedup a training-data pipeline runs continuously: documents
    // arrive as a stream (synthetic ingest time = doc_id seconds, the
    // deterministic stand-in for an arrival timestamp), group by
    // content fingerprint, keep the minimum doc id and duplicate count
    // per fingerprint, and EVICT a fingerprint once no duplicate has
    // arrived for 20s of event time (EventTimeTimeout). State is
    // bounded by the eviction horizon, not the stream length — the
    // property that distinguishes this from batch d01. Emission on
    // eviction only, so results are deterministic on bounded input:
    // exactly the fingerprints whose last duplicate precedes the final
    // watermark minus the horizon.
    QueryDef(
      "s03_stream_dedup",
      (s, dir) => {
        import s.implicits._
        runToFileSink(s, "s03_sink", inputBytes(s"$dir/documents.parquet")) { ss =>
          val horizonMs = 20000L
          val docsSchema = StructType(Seq(
            StructField("doc_id", LongType),
            StructField("text", StringType),
            StructField("lang", StringType),
            StructField("source", StringType),
            StructField("n_chars", LongType)))
          val stream = ss.readStream.schema(docsSchema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(dir)
            // +1 day keeps the first doc's event time off the initial
            // watermark (a ts of exactly epoch 0 is filtered as late)
            .withColumn("ts", expr("timestamp_micros((doc_id + 86400) * 1000000)"))
            .withWatermark("ts", "0 seconds")
            .select(md5($"text").as("fp"), $"doc_id",
              unix_micros($"ts").as("ts_us"), $"ts")
            .as[(String, Long, Long, java.sql.Timestamp)]
          val survivors = stream.groupByKey(_._1)
            .flatMapGroupsWithState[DedupState, DedupOut](
              OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
              (fp: String, rows: Iterator[(String, Long, Long, java.sql.Timestamp)],
               state: GroupState[DedupState]) =>
                if (state.hasTimedOut) {
                  val st = state.get
                  state.remove()
                  Iterator(DedupOut(fp, st.minId, st.n, st.maxUs))
                } else {
                  var st = state.getOption.getOrElse(
                    DedupState(Long.MaxValue, 0L, Long.MinValue))
                  rows.foreach { r =>
                    st = DedupState(math.min(st.minId, r._2), st.n + 1,
                      math.max(st.maxUs, r._3))
                  }
                  state.update(st)
                  state.setTimeoutTimestamp(st.maxUs / 1000 + horizonMs)
                  Iterator.empty
                }
            }
          survivors.toDF()
        }.orderBy("fp")
      },
      Some("""
        WITH g AS (SELECT md5(text) AS fp, min(doc_id) AS survivor_id,
                          count(*) AS n_dups,
                          (max(doc_id) + 86400) * 1000000 AS last_seen_us
                   FROM documents GROUP BY 1),
        wm AS (SELECT (max(doc_id) + 86400) * 1000000 AS max_us FROM documents)
        SELECT fp, survivor_id, n_dups, last_seen_us
        FROM g, wm
        WHERE last_seen_us // 1000 + 20000 < max_us // 1000
        ORDER BY fp""")),

    // ---------------------------------------------------------------- s06
    // Stream-static enrichment join: the event stream joins the STATIC
    // customer dimension, then hourly windows per market segment
    // aggregate. The static side is explicitly broadcast — at 100 TB
    // the dimension ships once per executor and the stream side never
    // shuffles for the join (a shuffled stream-static join would
    // re-shuffle every micro-batch); the only stateful shuffle is the
    // window aggregation, same append/watermark discipline as s01.
    QueryDef(
      "s06_stream_static_join",
      (s, dir) => {
        val cust = graft.queries.Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val events = eventsStream(s, dir)
        runToFileSink(s, "s06_sink", inputBytes(s"$dir/events.parquet")) { ss =>
          val stream = events(ss)
            .withWatermark("ts", "0 seconds")
            .join(broadcast(cust), col("user_id") === col("c_custkey"))
            .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
            .agg(count(lit(1)).as("n_events"),
                 sum(col("value").cast("decimal(18,6)")).cast("double")
                   .as("sum_value"))
            .select(unix_micros(col("window.start")).as("hour_start_us"),
                    col("c_mktsegment"), col("n_events"), col("sum_value"))
          stream
        }.orderBy("hour_start_us", "c_mktsegment")
      },
      Some("""
        WITH ev AS (SELECT e.value, c.c_mktsegment,
                           time_bucket(INTERVAL 1 HOUR, e.ts) AS hour_start,
                           e.ts
                    FROM events e JOIN customer c ON e.user_id = c.c_custkey)
        SELECT epoch_us(hour_start) AS hour_start_us, c_mktsegment,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM ev
        WHERE hour_start + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
        GROUP BY 1, 2 ORDER BY hour_start_us, c_mktsegment""")),

    // ---------------------------------------------------------------- s07
    // Streaming ingestion INTO the array store — the missing bridge
    // between the streaming surface and the chunk engine: micro-batches
    // of events land as aligned region writes in a driver-templated
    // zarr store (the reference's eager-template ChunksToZarr contract,
    // zarr.py:637-821, fed by a stream instead of a batch scan). The
    // hour axis is templated up front from the table's time bounds;
    // the source arrives as four chunk-aligned hour-range files
    // (maxFilesPerTrigger=1 → four micro-batches); each batch
    // aggregates ITS hour range, densifies zero-event hours, and
    // region-writes whole chunks at absolute offsets — idempotent under
    // replay, no cross-batch write ever touches the same chunk. The
    // gate then reads the store back as the verification scan.
    QueryDef(
      "s07_stream_zarr_ingest",
      (s, dir) => {
        import graft.api.{TabularBridge, XbeamDataset}
        import graft.ndarray.DType
        import graft.operators.ChunkTransforms.{Pair, pairEnc}
        val ev = graft.queries.Tables.loadEvents(s, s"$dir/events.parquet")
        // plan-time template bounds, exactly like a zarr template
        // (memoized per file vintage — see eventsHourBounds)
        val (h0us, hours) = eventsHourBounds(s, dir)
        val chunk = 16
        val fileSpan = ((hours + 3) / 4 + chunk - 1) / chunk * chunk // aligned
        val sfName = new java.io.File(dir).getName
        val scratch = java.nio.file.Paths.get("target", "stream_zarr",
          "src_" + sfName).toAbsolutePath
        val store = java.nio.file.Paths.get("target", "stream_zarr",
          "store_" + sfName).toAbsolutePath.toString
        graft.core.Fs.deleteRecursively(scratch)
        graft.core.Fs.deleteRecursively(store)
        java.nio.file.Files.createDirectories(scratch)
        // four chunk-aligned hour-range source files from ONE pass over
        // events (the s10 r19 idiom, applied here too): hash-repartition
        // on the span id (each span wholly in one task) + partitionBy
        // gives one file per span dir, renamed into stream order —
        // replacing four filter+coalesce(1) jobs that each re-scanned
        // the events table. `part` stays a DATA column (the micro-batch
        // provenance check reads it); `span` is the partition column.
        val withHour = ev.select(
          // `div`, not `/`: Column./ is FLOAT division and would write
          // the hour index as DOUBLE into the stream source files
          expr(s"(unix_micros(date_trunc('hour', ts)) - ${h0us}L) div 3600000000")
            .as("hour"),
          col("value"))
        locally {
          val tmp = scratch.resolve("_spans")
          withHour.withColumn("part", expr(s"hour div ${fileSpan}L"))
            .withColumn("span", col("part"))
            .repartition(4, col("span"))
            .write.mode("overwrite").partitionBy("span").parquet(tmp.toString)
          import scala.jdk.CollectionConverters._
          pinSpanOrder((0 until 4).map { k =>
            val d = tmp.resolve(s"span=$k")
            val dst = scratch.resolve(s"batch$k.parquet")
            if (java.nio.file.Files.isDirectory(d)) {
              val f = java.nio.file.Files.list(d).iterator().asScala
                .find(_.toString.endsWith(".parquet")).get
              java.nio.file.Files.move(f, dst)
            } else {
              // an all-empty span must still ship a (zero-row) batch file
              // or every later span's micro-batch id would shift off its
              // source part (latent at sparser scale factors)
              s.createDataFrame(
                s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                StructType(Seq(StructField("hour", LongType),
                  StructField("value", DoubleType),
                  StructField("part", LongType))))
                .coalesce(1).write.mode("overwrite").parquet(d.toString)
              val f = java.nio.file.Files.list(d).iterator().asScala
                .find(_.toString.endsWith(".parquet")).get
              java.nio.file.Files.move(f, dst)
            }
            dst
          })
          graft.core.Fs.deleteRecursively(tmp.toString)
        }
        // eager store setup: metadata + template only, zero chunk writes
        val template = graft.core.Template(
          Seq("hour" -> hours),
          Map("n_events" -> graft.core.VarSpec(Seq("hour"), DType.I64),
            "sum_value" -> graft.core.VarSpec(Seq("hour"), DType.F64)),
          Map.empty, Map.empty)
        XbeamDataset.fromPairs(s, template, Map("hour" -> chunk),
          s.emptyDataset[Pair], validate = false).toZarr(store)
        // the stream: one micro-batch per file, each region-writes its
        // own aligned hour span
        val sschema = StructType(Seq(
          StructField("hour", LongType), StructField("value", DoubleType),
          StructField("part", LongType)))
        runBounded(s, "s07", inputBytes(scratch.toString)) { (ss, ckpt) =>
          ss.readStream.schema(sschema)
            .option("maxFilesPerTrigger", 1).parquet(scratch.toString)
            .writeStream
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (bdf: DataFrame, batchId: Long) =>
              // the span index derives from the micro-batch id (files
              // arrive in span order under maxFilesPerTrigger=1, see
              // pinSpanOrder), NOT from the rows: an hour span with ZERO
              // events must still write its densified all-zero chunks, or
              // the read-back would depend on the store fill value instead
              // of explicit zeros (latent at sparser scale factors where an
              // entire span can be empty)
              val k = batchId
              val lo = k * fileSpan
              val hi = math.min(lo + fileSpan, hours)
              if (k < 4 && hi > lo) {
                if (!bdf.isEmpty) {
                  val ks = bdf.select(col("part")).distinct().collect().map(_.getLong(0))
                  require(ks.toSeq == Seq(k),
                    s"micro-batch $k expected source part $k, got ${ks.toSeq}")
                }
                val agg = bdf.groupBy(col("hour"))
                  .agg(count(lit(1)).as("n_events"),
                    sum(col("value").cast("decimal(18,6)")).cast("double")
                      .as("sum_value"))
                // densify: zero-event hours in this span still own cells
                val dense = s.range(lo, hi).toDF("hour")
                  .join(agg, Seq("hour"), "left")
                  .na.fill(0L, Seq("n_events")).na.fill(0.0, Seq("sum_value"))
                  .withColumn("hour", col("hour") - lo)
                val local = TabularBridge.fromDataFrame(dense, s,
                  dims = Seq("hour" -> (hi - lo)),
                  vars = Seq("n_events" -> DType.I64, "sum_value" -> DType.F64),
                  chunks = Map("hour" -> chunk))
                val shifted = local.chunkDataset.map { p: Pair =>
                  (p._1.copy(offsets = p._1.offsets +
                    ("hour" -> (p._1.offsets.getOrElse("hour", 0L) + lo))), p._2)
                }
                XbeamDataset.fromPairs(s, template, Map("hour" -> chunk),
                  shifted, validate = false).toZarr(store, needsSetup = false)
              }
            }
            .start()
        }
        TabularBridge.toDataFrame(XbeamDataset.fromZarr(s, store))
          .orderBy("hour")
      },
      Some("""
        WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
                          CAST(date_diff('hour', date_trunc('hour', min(ts)),
                                         date_trunc('hour', max(ts))) AS BIGINT) + 1 AS n
                   FROM events),
        agg AS (SELECT CAST(date_diff('hour', (SELECT h0 FROM b),
                                      date_trunc('hour', ts)) AS BIGINT) AS hour,
                       CAST(count(*) AS BIGINT) AS n_events,
                       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
                FROM events GROUP BY 1),
        hours AS (SELECT unnest(range((SELECT n FROM b))) AS hour)
        SELECT hours.hour AS hour, COALESCE(n_events, 0) AS n_events,
               COALESCE(sum_value, 0.0) AS sum_value
        FROM hours LEFT JOIN agg ON hours.hour = agg.hour
        ORDER BY hours.hour""")),

    // ---------------------------------------------------------------- s09
    // The FIRST-CLASS streaming sink: `writeStream.format("zarr")` —
    // the DSv2 StreamingWrite (ZarrStreamWrite.scala) replaces s07's
    // foreachBatch with the real connector surface. Each micro-batch's
    // rows are cells; writer tasks stage one compact fragment per
    // (task, chunk) and the epoch commit merges each touched chunk
    // once (read region -> apply cells -> region-write). Unlike s07,
    // the hour spans here are deliberately NOT chunk-aligned: a chunk
    // straddling two spans is written by two epochs and the
    // chunk-granular upsert merge makes that correct — the alignment
    // obligation the foreachBatch path puts on the user disappears.
    // Same store contents, same oracle as s07.
    QueryDef(
      "s09_stream_zarr_sink",
      (s, dir) => {
        import graft.api.{TabularBridge, XbeamDataset}
        import graft.ndarray.DType
        import graft.operators.ChunkTransforms.{Pair, pairEnc}
        val ev = graft.queries.Tables.loadEvents(s, s"$dir/events.parquet")
        val (h0us, hours) = eventsHourBounds(s, dir)
        val chunk = 16
        val fileSpan = (hours + 3) / 4 // NOT chunk-aligned on purpose
        val sfName = new java.io.File(dir).getName
        val scratch = java.nio.file.Paths.get("target", "stream_sink",
          "src_" + sfName).toAbsolutePath
        val store = java.nio.file.Paths.get("target", "stream_sink",
          "store_" + sfName).toAbsolutePath.toString
        graft.core.Fs.deleteRecursively(scratch)
        graft.core.Fs.deleteRecursively(store)
        java.nio.file.Files.createDirectories(scratch)
        // per-span source files carry FINAL densified cell values (the
        // sink is a keyed cell sink — aggregation happens upstream,
        // exactly as it would in an Update-mode pipeline). One
        // aggregation + one partitioned write replaces four
        // filter+groupBy+coalesce(1) jobs that each re-scanned events
        // (the s10 r19 idiom): densify over the full hour axis, tag each
        // hour's span, and let partitionBy emit one file per span —
        // identical rows per file (span k covers [k*fileSpan,
        // (k+1)*fileSpan) with the k=3 tail running to `hours`, which is
        // exactly `hour div fileSpan` clamped by hours <= 4*fileSpan).
        val withHour = ev.select(
          expr(s"(unix_micros(date_trunc('hour', ts)) - ${h0us}L) div 3600000000")
            .as("hour"),
          col("value"))
        locally {
          val agg = withHour.groupBy(col("hour"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast("decimal(18,6)")).cast("double")
                .as("sum_value"))
          val dense = s.range(0, hours).toDF("hour")
            .join(agg, Seq("hour"), "left")
            .na.fill(0L, Seq("n_events")).na.fill(0.0, Seq("sum_value"))
            .withColumn("span", expr(s"hour div ${fileSpan}L"))
          val tmp = scratch.resolve("_spans")
          dense.repartition(4, col("span"))
            .write.mode("overwrite").partitionBy("span").parquet(tmp.toString)
          import scala.jdk.CollectionConverters._
          pinSpanOrder((0 until 4).flatMap { k =>
            val d = tmp.resolve(s"span=$k")
            Option.when(java.nio.file.Files.isDirectory(d)) {
              val f = java.nio.file.Files.list(d).iterator().asScala
                .find(_.toString.endsWith(".parquet")).get
              java.nio.file.Files.move(f, scratch.resolve(s"batch$k.parquet"))
            }
          })
          graft.core.Fs.deleteRecursively(tmp.toString)
        }
        // eager template setup, zero chunk writes
        val template = graft.core.Template(
          Seq("hour" -> hours),
          Map("n_events" -> graft.core.VarSpec(Seq("hour"), DType.I64),
            "sum_value" -> graft.core.VarSpec(Seq("hour"), DType.F64)),
          Map.empty, Map.empty)
        XbeamDataset.fromPairs(s, template, Map("hour" -> chunk),
          s.emptyDataset[Pair], validate = false).toZarr(store)
        val sschema = StructType(Seq(
          StructField("hour", LongType), StructField("n_events", LongType),
          StructField("sum_value", DoubleType)))
        runBounded(s, "s09", inputBytes(scratch.toString)) { (ss, ckpt) =>
          ss.readStream.schema(sschema)
            .option("maxFilesPerTrigger", 1).parquet(scratch.toString)
            .writeStream.format("zarr")
            .option("path", store)
            .option("dims", "hour")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .start()
        }
        TabularBridge.toDataFrame(XbeamDataset.fromZarr(s, store))
          .orderBy("hour")
      },
      Some("""
        WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
                          CAST(date_diff('hour', date_trunc('hour', min(ts)),
                                         date_trunc('hour', max(ts))) AS BIGINT) + 1 AS n
                   FROM events),
        agg AS (SELECT CAST(date_diff('hour', (SELECT h0 FROM b),
                                      date_trunc('hour', ts)) AS BIGINT) AS hour,
                       CAST(count(*) AS BIGINT) AS n_events,
                       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
                FROM events GROUP BY 1),
        hours AS (SELECT unnest(range((SELECT n FROM b))) AS hour)
        SELECT hours.hour AS hour, COALESCE(n_events, 0) AS n_events,
               COALESCE(sum_value, 0.0) AS sum_value
        FROM hours LEFT JOIN agg ON hours.hour = agg.hour
        ORDER BY hours.hour""")),

    // ---------------------------------------------------------------- s10
    // Watermarked UPDATE-mode aggregation streaming straight into the
    // store: raw events stream in (one hour-span file per micro-batch),
    // the STREAMING QUERY owns the stateful groupBy(hour) aggregation
    // (watermark bounds its state), and update-mode rows flow into the
    // zarr sink, whose cell-level upsert is exactly what update output
    // needs — each epoch's cumulative per-hour totals overwrite their
    // cells, so the store CONVERGES to the final aggregate
    // (SupportsStreamingUpdateAsAppend on the write builder). The
    // accumulator store is zero-initialized METADATA-ONLY (fillValue=0
    // on both variables), so zero-event hours read back as explicit
    // zeros without a single chunk write — the init stays O(metadata)
    // no matter how large the accumulator store grows. s07 aggregated in
    // foreachBatch and s09 pre-aggregated outside the stream; here
    // Spark's own streaming state machine feeds the connector — the
    // full Structured Streaming surface composed with the store.
    QueryDef(
      "s10_stream_update_into_zarr",
      (s, dir) => {
        import graft.api.{TabularBridge, XbeamDataset}
        import graft.ndarray.DType
        val ev = graft.queries.Tables.loadEvents(s, s"$dir/events.parquet")
        val (h0us, hours) = eventsHourBounds(s, dir)
        val chunk = 16
        val fileSpan = (hours + 3) / 4
        val sfName = new java.io.File(dir).getName
        val scratch = java.nio.file.Paths.get("target", "stream_upd",
          "src_" + sfName).toAbsolutePath
        val store = java.nio.file.Paths.get("target", "stream_upd",
          "store_" + sfName).toAbsolutePath.toString
        graft.core.Fs.deleteRecursively(scratch)
        graft.core.Fs.deleteRecursively(store)
        java.nio.file.Files.createDirectories(scratch)
        // raw event files, one per hour span, streamed in order
        val withHour = ev.select(col("ts"),
          expr(s"(unix_micros(date_trunc('hour', ts)) - ${h0us}L) div 3600000000")
            .as("hour"),
          col("value"))
        // all four span files in ONE pass over events: hash-repartition
        // on the span id (each span wholly in one task) + partitionBy
        // gives one file per span dir, renamed into stream order —
        // replacing four separate filter+coalesce(1) jobs that each
        // re-scanned the events table (round 19; ~0.4 s at sf0.1)
        locally {
          val tmp = scratch.resolve("_spans")
          withHour.withColumn("span", (col("hour") / fileSpan).cast("int"))
            .select(col("ts"), col("value"), col("span"))
            .repartition(4, col("span"))
            .write.mode("overwrite").partitionBy("span").parquet(tmp.toString)
          import scala.jdk.CollectionConverters._
          pinSpanOrder((0 until 4).flatMap { k =>
            val d = tmp.resolve(s"span=$k")
            Option.when(java.nio.file.Files.isDirectory(d)) {
              val f = java.nio.file.Files.list(d).iterator().asScala
                .find(_.toString.endsWith(".parquet")).get
              java.nio.file.Files.move(f, scratch.resolve(s"batch$k.parquet"))
            }
          })
          graft.core.Fs.deleteRecursively(tmp)
        }
        // zero-initialized accumulator store, METADATA-ONLY: the
        // variables declare fillValue=0 (VarSpec.fillValue), so absent
        // chunks read back as explicit zeros without touching a single
        // chunk blob — the shape that still works when the accumulator
        // store is huge (a zero-init batch write would touch every
        // chunk; round 19, was a full DSv2 write of all cells)
        graft.sources.Zarr.setupStore(store, graft.core.Template(
          Seq("hour" -> hours),
          Map("n_events" -> graft.core.VarSpec(Seq("hour"), DType.I64, Some(0.0)),
              "sum_value" -> graft.core.VarSpec(Seq("hour"), DType.F64, Some(0.0))),
          Map.empty, Map.empty), Map("hour" -> chunk))
        val sschema = StructType(Seq(
          StructField("ts", TimestampType), StructField("value", DoubleType)))
        // the stateful agg holds <=720 hour keys and each micro-batch
        // pays a commit per state partition (provider open + delta +
        // snapshot bookkeeping), so their count comes from the input
        // size, not the session default. UPDATE mode emits a key only
        // when a data batch changes it; the trailing no-data watermark
        // batch can only evict state, never emit (probed: batch 4, 0
        // rows, ~0.4 s) — the store holds the converged totals after
        // batch 3 either way. Skip it.
        runBounded(s, "s10", inputBytes(scratch.toString),
            noDataBatch = false) { (ss, ckpt) =>
          ss.readStream.schema(sschema)
            .option("maxFilesPerTrigger", 1).parquet(scratch.toString)
            .withWatermark("ts", "1 hour")
            .groupBy(expr(
              s"(unix_micros(date_trunc('hour', ts)) - ${h0us}L) div 3600000000")
              .as("hour"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast("decimal(18,6)")).cast("double")
                .as("sum_value"))
            .writeStream.format("zarr")
            .option("path", store)
            .option("dims", "hour")
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(Trigger.AvailableNow())
            .start()
        }
        TabularBridge.toDataFrame(XbeamDataset.fromZarr(s, store))
          .orderBy("hour")
      },
      Some("""
        WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
                          CAST(date_diff('hour', date_trunc('hour', min(ts)),
                                         date_trunc('hour', max(ts))) AS BIGINT) + 1 AS n
                   FROM events),
        agg AS (SELECT CAST(date_diff('hour', (SELECT h0 FROM b),
                                      date_trunc('hour', ts)) AS BIGINT) AS hour,
                       CAST(count(*) AS BIGINT) AS n_events,
                       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
                FROM events GROUP BY 1),
        hours AS (SELECT unnest(range((SELECT n FROM b))) AS hour)
        SELECT hours.hour AS hour, COALESCE(n_events, 0) AS n_events,
               COALESCE(sum_value, 0.0) AS sum_value
        FROM hours LEFT JOIN agg ON hours.hour = agg.hour
        ORDER BY hours.hour""")),

    // ---------------------------------------------------------------- s11
    // Streaming near-dup detection against an existing corpus — the
    // always-on ingestion half of the d04 batch dedup: new documents
    // (doc_id % 3 == 0) arrive as micro-batches, each is minhash-banded
    // with the SAME codegen expressions as d04, and a stream-static
    // equi-join on (band_idx, band) probes the banded index of the
    // existing corpus (doc_id % 3 != 0). The 100 TB asymmetry is the
    // point: the unbounded corpus side ships only (id, 16-hex-char
    // band) rows and its shingle-hash sets join in ONLY for verified
    // candidates, while the new doc's own 8-byte hash array rides its
    // micro-batch (bounded by batch size by definition). In-stream
    // dropDuplicates collapses multi-band hits before the verify join —
    // its state is effectively batch-bounded here because each doc_id
    // arrives exactly once (pairs can't recur across batches); a
    // deployment with re-deliverable ids would bound it explicitly with
    // dropDuplicatesWithinWatermark on ingest time;
    // exact Jaccard over sorted 64-bit shingle hashes via the codegen'd
    // merge kernel, same as d04. The oracle replays the identical
    // minhash in DuckDB over the same new/old split.
    QueryDef(
      "s11_stream_minhash_neardup",
      (s, dir) => {
        import graft.queries.TextOps
        graft.functions.GraftFunctions.register(s)
        // static side: banded LSH index + verification sets of the
        // existing corpus — persisted: both derive from the shingle
        // arrays, and a stream-static join re-evaluates its static
        // side every micro-batch (at scale both live as MAINTAINED
        // tables; the cache stands in for that here). Unpersisted
        // after the run — the file sink already holds the results, and
        // a leaked cache block would skew every later gate's memory.
        val corpus = TextOps.shingled(s, dir).filter("doc_id % 3 != 0")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the DERIVED index frames persist too: a stream-static join
        // re-evaluates its static side every micro-batch, and without
        // these the md5 signature pass re-runs per batch even with the
        // shingle arrays cached
        val idxBands = TextOps.minhashBands(
            corpus.select(col("doc_id"), col("shingles")))
          .withColumnRenamed("doc_id", "id_old")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val idxSets = corpus.selectExpr("doc_id AS id_old",
          "array_sort(transform(shingles, x -> xxhash64(x))) AS h_old",
          "size(shingles) AS sz_old")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try runToFileSink(s, "s11_sink", inputBytes(s"$dir/documents.parquet")) { ss =>
          // stream side: new documents, shingled + banded per micro-batch
          val schema = StructType(Seq(
            StructField("doc_id", LongType), StructField("text", StringType),
            StructField("lang", StringType), StructField("source", StringType),
            StructField("n_chars", LongType)))
          val newDocs = ss.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet").parquet(dir)
            .filter("doc_id % 3 = 0")
            .filter(expr("size(split(text, ' ')) >= 3"))
            .selectExpr("doc_id", s"${TextOps.SHINGLES_SPARK} AS shingles")
            .selectExpr("doc_id", "shingles",
              "array_sort(transform(shingles, x -> xxhash64(x))) AS h_new",
              "size(shingles) AS sz_new")
          val cand = TextOps.minhashBands(newDocs)
            .withColumnRenamed("doc_id", "id_new")
            .join(idxBands, Seq("band_idx", "band"))
            .select(col("id_new"), col("id_old"), col("h_new"), col("sz_new"))
            .dropDuplicates("id_new", "id_old")
          val verified = cand.join(idxSets, Seq("id_old"))
            .withColumn("inter", expr("sorted_intersect_count(h_new, h_old)"))
            .select(col("id_new"), col("id_old"),
              (col("inter").cast("double") /
                (col("sz_new") + col("sz_old") - col("inter"))).as("jaccard"))
          verified
        }.orderBy("id_new", "id_old")
        finally {
          idxBands.unpersist(); idxSets.unpersist(); corpus.unpersist(); ()
        }
      },
      Some(s"""
        ${graft.queries.TextOps.DUCK_SHINGLE_CTE},
        sig AS (SELECT doc_id, shingles,
                       list_transform(range(0, 8),
                         k -> list_aggregate(list_transform(
                                list_transform(shingles,
                                  s -> md5((k // 4)::VARCHAR || '|' || s)),
                                d -> substr(d, (k % 4) * 8 + 1, 8)), 'min')) AS sigs
                FROM sh),
        bands AS (SELECT doc_id, b AS band_idx,
                         sigs[2*b+1] || sigs[2*b+2] AS band
                  FROM sig, unnest([0, 1, 2, 3]) AS t(b)),
        cand AS (SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
                 FROM bands n JOIN bands o
                   ON n.band_idx = o.band_idx AND n.band = o.band
                 WHERE n.doc_id % 3 = 0 AND o.doc_id % 3 != 0)
        SELECT id_new, id_old,
               CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
               (len(x.shingles) + len(y.shingles) -
                len(list_intersect(x.shingles, y.shingles))) AS jaccard
        FROM cand JOIN sh x ON x.doc_id = id_new JOIN sh y ON y.doc_id = id_old
        ORDER BY id_new, id_old"""))
  )
}
