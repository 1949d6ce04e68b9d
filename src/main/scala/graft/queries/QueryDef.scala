package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator/query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query
  * over the same parquet tables. Column names MUST match between the two:
  * the driver sorts columns by name and hashes values.
  *
  * Cross-engine determinism rules used throughout:
  *   - money/double aggregation goes through DECIMAL casts (exact,
  *     order-independent) and the final value is cast back to DOUBLE;
  *   - integer outputs are always 64-bit (BIGINT) on both sides — DuckDB
  *     `sum(INTEGER)` yields INT128, so counting uses COUNT(...) FILTER;
  *   - no raw timestamp outputs: epoch micros (unix_micros/epoch_us) or
  *     formatted strings;
  *   - every result has a total deterministic ORDER BY on both sides.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Query-scoped persist lifecycle (guide §5: "cached data competes with
  * execution memory; unpersist when done"). The round-21 working-set
  * persists (shingle/band/fingerprint tables, kmeans views, quality
  * scores) were never unpersisted, so storage blocks accumulated for
  * the whole suite run — the exact cross-gate memory-skew failure s11's
  * `finally unpersist` was added to prevent — and cross-gate
  * CacheManager plan-sharing made per-gate bench numbers measure
  * warm-cache reads instead of each gate's own cost.
  *
  * `scoped(s) { body }` runs a query body whose persists are routed
  * through [[CacheScope.persist]]; in the default EAGER mode it then
  * materializes the result with `localCheckpoint(eager = true)` (the
  * result rows are small — checkpoint blocks are released by the
  * ContextCleaner once the DataFrame is collected and dropped) and
  * unpersists every scope-registered frame before returning. Each query
  * therefore pays its own materialization (honest per-gate timing) and
  * leaves ZERO cached blocks behind.
  *
  * `spark.graft.queryScope=lazy` (Probe's plan dump, plan-shape specs)
  * skips the checkpoint and the unpersist so the returned DataFrame still
  * carries the full optimizable plan for inspection; persists then behave
  * exactly as in round 21. */
object CacheScope {
  import org.apache.spark.storage.StorageLevel

  private val active = new ThreadLocal[java.util.ArrayList[DataFrame]]

  /** Persist `df` (MEMORY_AND_DISK) and register it with the innermost
    * active scope for unpersist at query end; outside any scope this is
    * a plain persist (tests, ad-hoc use). */
  def persist(df: DataFrame,
              level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    val l = active.get()
    if (l != null) l.add(p)
    p
  }

  /** `.scopedPersist()` postfix sugar for [[CacheScope.persist]]. */
  implicit final class Scoped(private val df: DataFrame) extends AnyVal {
    def scopedPersist(): DataFrame = CacheScope.persist(df)
  }

  def scoped(s: SparkSession)(body: => DataFrame): DataFrame = {
    if (s.conf.get("spark.graft.queryScope", "eager") == "lazy") return body
    val prev = active.get()
    val l = new java.util.ArrayList[DataFrame]()
    active.set(l)
    try {
      // eager: the result is computed (and its blocks pinned) BEFORE the
      // working sets are released, so nothing downstream can silently
      // re-run the unpersisted lineage
      body.localCheckpoint(true)
    } finally {
      if (prev == null) active.remove() else active.set(prev)
      l.forEach { d =>
        try { d.unpersist(); () } catch { case _: Throwable => () }
      }
    }
  }
}

object Tables {
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types._

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Event files whose converted `ts` already passed the epoch sanity
    * check this JVM (one tiny min/max agg, run once per path so the
    * bench's hot loaders stay cheap). */
  private val tsChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Cache key = path + size + mtime, not the bare path: a regenerated
    * events.parquet at the same path with a different timestamp vintage
    * (the exact drift class that cost 87 gates in r11) must invalidate
    * the cached probe, or the stale type would silently select the
    * wrong normalization branch. Non-local paths (s3://, ...) fall back
    * to the bare path — they are immutable in our harness. */
  private[graft] def tsKey(path: String): String =
    try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        val kids = java.nio.file.Files.list(p).iterator().asScala.toSeq
        def sz(k: java.nio.file.Path) =
          try java.nio.file.Files.size(k) catch { case _: Exception => 0L }
        def mt(k: java.nio.file.Path) =
          try java.nio.file.Files.getLastModifiedTime(k).toMillis
          catch { case _: Exception => 0L }
        s"$path@${kids.map(sz).sum}:${kids.map(mt).maxOption.getOrElse(0L)}"
      } else
        s"$path@${java.nio.file.Files.size(p)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
    } catch { case _: Exception => path }

  /** The type `ts` loads as under this session's confs. The data
    * builder has shipped events.ts as parquet TIMESTAMP(NANOS) (loads
    * as BIGINT nanos under `nanosAsLong`) in some vintages and as
    * timestamp[us] (loads as TIMESTAMP_NTZ) in others — callers must
    * branch on the loaded schema, never hard-code a vintage. */
  /** Probed `ts` type per path, cached: the footer read costs a driver
    * round-trip per call, and hot callers (bench reps, registerViews)
    * load events many times per JVM against an immutable file. */
  private val tsTypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataType]()

  def eventsTsType(spark: SparkSession, path: String): DataType = {
    // harmless when ts is already timestamp-typed; required to load
    // (rather than reject) the TIMESTAMP(NANOS) vintage
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsTypeCache.computeIfAbsent(tsKey(path),
      _ => spark.read.parquet(path).schema("ts").dataType)
  }

  /** Normalize an events `ts` column of any builder vintage to a
    * session-UTC TIMESTAMP. Works on batch and streaming frames (pure
    * column transform — no action). Unknown types fail loudly: r11's
    * silent misread of micros-as-nanos is the failure mode this guards. */
  def normalizeTs(spark: SparkSession, df: DataFrame, raw: DataType,
                  path: String): DataFrame = {
    // TIMESTAMP_NTZ -> TIMESTAMP interprets the wall clock in the
    // session zone; pin UTC so batch/stream/bench all agree with the
    // DuckDB oracle (which treats the naive micros as-is).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw match {
      case LongType => // TIMESTAMP(NANOS) vintage, read as raw nanos
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events ts at $path loaded as unsupported type ${other.sql}: " +
        "expected BIGINT nanos (TIMESTAMP(NANOS) vintage), TIMESTAMP_NTZ " +
        "(timestamp[us] vintage), or TIMESTAMP — the data builder's " +
        "schema drifted again; extend Tables.normalizeTs")
    }
  }

  /** Load events with `ts` normalized, failing loudly (not silently
    * corrupting) if the converted timestamps land outside a plausible
    * epoch window — the r11 builder drift produced confidently wrong
    * answers, the worst failure mode a data engine has. */
  def loadEvents(spark: SparkSession, path: String): DataFrame =
    cached(spark, path)(loadEventsUncached(spark, path))

  private def loadEventsUncached(spark: SparkSession, path: String): DataFrame = {
    val raw = eventsTsType(spark, path)
    val df = normalizeTs(spark, spark.read.parquet(path), raw, path)
    val ck = tsKey(path)
    if (!tsChecked.contains(ck)) {
      val r = df.selectExpr("year(min(ts)) AS lo", "year(max(ts)) AS hi").head()
      if (!r.isNullAt(0)) {
        val (lo, hi) = (r.getInt(0), r.getInt(1))
        if (lo < 1990 || hi > 2100) throw new IllegalStateException(
          s"events ts at $path converts to years [$lo, $hi] (raw parquet " +
          s"type ${raw.sql}) — outside the plausible 1990..2100 window; " +
          "the unit assumed by Tables.normalizeTs does not match the file")
      }
      tsChecked.add(ck)
    }
    df
  }

  /** Loaded-table PLAN cache: `spark.read.parquet` costs ~80 ms of
    * driver work per call (file listing + footer schema inference),
    * and the suite loads the same ten immutable files thousands of
    * times. Cache the resolved DataFrame — a logical plan, no data —
    * per (session, file vintage); the tsKey component (size + mtime)
    * invalidates on regenerated files exactly like the ts-type probe
    * cache above.
    *
    * Keyed by session IDENTITY with strong references and an explicit
    * size bound, NOT by a WeakHashMap: a cached DataFrame strongly
    * references its SparkSession, so weak keys could never be collected
    * anyway (the classic WeakHashMap value-references-key leak — round
    * 21's version claimed collection it could not deliver). Our
    * processes create a handful of sessions; if a long-lived JVM ever
    * cycles through more than `MaxSessions` the cache resets —
    * correctness is unaffected (entries are pure plans, rebuilt on
    * demand). */
  private val MaxSessions = 64
  private val dfCache = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  private def cached(spark: SparkSession, path: String)
                    (load: => DataFrame): DataFrame =
    cachedKey(spark, tsKey(path))(load)

  private def cachedKey(spark: SparkSession, key: String)
                       (load: => DataFrame): DataFrame = {
    val perSession = dfCache.synchronized {
      if (dfCache.size > MaxSessions) dfCache.clear()
      var m = dfCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        dfCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(key, _ => load)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$dir/events.parquet")
    else {
      val path = s"$dir/$name.parquet"
      cached(spark, path)(spark.read.parquet(path))
    }

  /** [[t]] with the scan spread to the session parallelism when the
    * file layout under-parallelizes it: a sub-128 MB single-file table
    * scans as ONE task, which serializes every downstream CPU-dense
    * projection chained onto the scan (the md5/xxhash shingle and
    * signature passes measured 1.3 s single-task vs ~0.1 s spread at
    * sf0.1 — compute density per byte is what the byte-based split
    * rules cannot see). The keyless round-robin repartition shuffles
    * only the raw input rows (deterministic under retry:
    * sortBeforeRepartition is on). At scale the scan already has >=
    * cores splits and this is a no-op branch. Use for CPU-dense passes
    * (hashing, regex, per-element array math), NOT for scans whose
    * cost is the bytes themselves. The plain table is loaded before
    * the `#par` entry is computed: loading it inside would nest a
    * `computeIfAbsent` on the same map, which throws "Recursive update"
    * whenever the two keys share a hash bin. */
  def tPar(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = t(spark, dir, name)
    cachedKey(spark, tsKey(s"$dir/$name.parquet") + "#par") {
      val p = spark.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
    }
  }

  /** Row count of an immutable input table, memoized per file vintage —
    * plan-time metadata (the XbeamQueries.nRows idiom, centralized):
    * sizing rules (k-means k, LSH bits) need the corpus size, and a
    * count() job per query construction is pure fixed cost against a
    * file that cannot change under the memo key. */
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCountCache.computeIfAbsent(tsKey(s"$dir/$name.parquet") + "#n",
      _ => t(spark, dir, name).count())

  /** Register every table as a temp view (for spark.sql-based queries). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
