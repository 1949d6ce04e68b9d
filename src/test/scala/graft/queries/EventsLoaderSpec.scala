package graft.queries

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.TestSpark

/** The events `ts` loader must adapt to the builder's parquet vintage
  * and fail LOUDLY on drift. Round 11's builder switch from
  * TIMESTAMP(NANOS) to timestamp[us] threw 87 of 144 oracle gates
  * (batch loader: analysis error) and silently corrupted 4 of 5
  * streaming gates (hard-coded LongType schema read raw micros as
  * nanos). This spec feeds every vintage through the shared loader:
  *   - BIGINT nanos (how TIMESTAMP(NANOS) loads under nanosAsLong;
  *     a plain int64 column loads identically, which is how the
  *     fixture simulates it — Spark cannot write TIMESTAMP(NANOS)),
  *   - TIMESTAMP_NTZ (the timestamp[us] vintage),
  *   - TIMESTAMP (a tz-adjusted micros vintage),
  * and asserts identical correct UTC instants from each; then a
  * deliberately absurd type and a wrong-unit file, which must throw
  * with messages naming the actual type / the implausible years.
  */
class EventsLoaderSpec extends AnyFunSpec with Matchers {
  private lazy val spark = TestSpark.spark

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"events_$tag")
    d.toFile.deleteOnExit()
    s"$d/events.parquet"
  }

  private def loadedMicros(path: String): Seq[Long] = {
    val df = Tables.loadEvents(spark, path)
    df.schema("ts").dataType shouldBe org.apache.spark.sql.types.TimestampType
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq.sorted
  }

  private val baseMicros = Seq(
    1786624496789000L, // 2026-08-13T12:34:56.789Z
    1262304000000000L, // 2010-01-01T00:00:00Z
    1999999999999999L) // 2033-05-18T03:33:19.999999Z

  it("reads the BIGINT-nanos vintage (TIMESTAMP(NANOS) under nanosAsLong)") {
    import spark.implicits._
    val p = tmp("nanos")
    baseMicros.map(m => (1L, m * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(p)
    loadedMicros(p) shouldBe baseMicros.sorted
  }

  it("reads the TIMESTAMP_NTZ vintage (timestamp[us], no tz) as UTC") {
    import spark.implicits._
    val p = tmp("ntz")
    baseMicros.map(m => (1L, m)).toDF("event_id", "us")
      .select(col("event_id"),
        expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
      .write.mode("overwrite").parquet(p)
    loadedMicros(p) shouldBe baseMicros.sorted
  }

  it("passes a TIMESTAMP (tz-adjusted) vintage through unchanged") {
    import spark.implicits._
    val p = tmp("tz")
    baseMicros.map(m => (1L, m)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(p)
    loadedMicros(p) shouldBe baseMicros.sorted
  }

  it("fails loudly, naming the type, on an absurd ts type") {
    import spark.implicits._
    val p = tmp("absurd")
    Seq((1L, "2026-08-13")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(p)
    val e = intercept[IllegalStateException](Tables.loadEvents(spark, p))
    e.getMessage should include("STRING")
    e.getMessage should include(p)
  }

  it("fails loudly when the assumed unit is wrong (micros fed down the nanos path)") {
    import spark.implicits._
    // the exact r11 streaming corruption: micros-scale values in a long
    // column get ÷1000 as if nanos, landing in 1970 — the epoch-window
    // check must refuse instead of returning confidently wrong rows
    val p = tmp("wrongunit")
    baseMicros.map(m => (1L, m)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(p)
    val e = intercept[IllegalStateException](Tables.loadEvents(spark, p))
    e.getMessage should include("1990..2100")
  }

  it("is not a column-pruning barrier: a ts-free projection never reads ts") {
    // the normalize withColumn must fold away under Catalyst pruning —
    // at 100 TB, reading the timestamp column for a query that never
    // touches it is a real IO regression
    val dir = "/root/testdata/sf0.001"
    if (new java.io.File(s"$dir/events.parquet").exists()) {
      val plan = Tables.t(spark, dir, "events")
        .select("event_type", "user_id")
        .queryExecution.executedPlan.toString
      val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
      read should include("event_type")
      (read should not).include("ts")
    }
  }

  it("loads the driver's real events table with plausible years") {
    val dir = "/root/testdata/sf0.001"
    if (new java.io.File(s"$dir/events.parquet").exists()) {
      val df = Tables.t(spark, dir, "events")
      val r = df.selectExpr("year(min(ts)) AS lo", "year(max(ts)) AS hi").head()
      r.getInt(0) should be >= 1990
      r.getInt(1) should be <= 2100
    }
  }
}
