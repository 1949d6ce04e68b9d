package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.xxhash64

/** One gate execution: latency from the call into the gate function to
  * the last result row, split into the call itself and the
  * materialization, plus the result's row count and order-sensitive
  * content hash; `error` is set when the execution threw. */
final case class GateRun(gate: String, pass: Int, seconds: Double,
                         callSeconds: Double, rows: Long, hash: Long,
                         error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Runs the query gates of `graft.SparkEntry.queries` by short name
  * (`x01` for `x01_chunk_roundtrip`). */
final class Gates(spark: SparkSession, dataDir: String, codes: Seq[String],
                  tracer: Tracer, inject: Option[String]) {
  import spark.implicits._

  private val all = graft.SparkEntry.queries
  val names: Seq[String] = codes.map { c =>
    val hits = all.keys.filter(_.startsWith(c + "_")).toSeq
    require(hits.size == 1, s"gate code $c matches ${hits.sorted.mkString(", ")}")
    hits.head
  }
  def code(name: String): String = name.takeWhile(_ != '_')

  /** The DataFrame the gate returns; an injected gate drops its first
    * row, a wrong output the checks must catch. */
  private def call(name: String): DataFrame = {
    val df = all(name)(spark, dataDir)
    if (inject.contains(code(name))) df.offset(1) else df
  }

  /** Full materialization: every column of every row, in the result's
    * final order, folded into one order-sensitive hash. Unlike count(),
    * this keeps the final Sort and every projection in the plan. */
  private def digest(df: DataFrame): (Long, Long) = {
    val hs = df.select(xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*))
      .as[Long].collect()
    var h = 17L
    var i = 0
    while (i < hs.length) { h = h * 1000003L + hs(i); i += 1 }
    (hs.length.toLong, h)
  }

  /** Execute one gate. With `dumpTo`, the result is also written as a
    * single ordered parquet file for the oracle comparison, after the
    * timed region. */
  def run(name: String, pass: Int, dumpTo: Option[String] = None): GateRun =
    tracer.span(s"${code(name)}/$pass", "queries") {
      val t0 = System.nanoTime()
      try {
        val df = call(name)
        val t1 = System.nanoTime()
        val (rows, hash) = digest(df)
        val t2 = System.nanoTime()
        dumpTo.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
        GateRun(name, pass, (t2 - t0) / 1e9, (t1 - t0) / 1e9, rows, hash, None)
      } catch {
        case e: Throwable =>
          GateRun(name, pass, (System.nanoTime() - t0) / 1e9, 0.0, -1L, 0L,
            Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)))
      }
    }

  def oracleSql: Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
}
