package graft

import org.apache.spark.sql.functions._

/** The events fixture's physical timestamp layout has changed across
  * testdata generations — TIMESTAMP(NANOS) (readable only as int64 via
  * the legacy nanosAsLong flag) through round 5, TIMESTAMP(MICROS) NTZ
  * from round 6 — and the ts-consuming gates must produce identical
  * epoch-μs instants over either. This spec writes the SAME instants in
  * both layouts and pins that the s01-shaped hourly aggregation and the
  * j01-shaped epoch-μs projection agree row-for-row. */
class EventsTsSpec extends SparkSpec {

  private def writeFixture(dir: java.nio.file.Path, asLong: Boolean): String = {
    import spark.implicits._
    // three users, events straddling two hour buckets, with a duplicate
    // (user, ts) pair to exercise ordering-sensitive consumers
    val baseUs = 1700000000000000L // 2023-11-14T22:13:20Z, hour-unaligned
    val rows = Seq(
      (1L, 10L, baseUs, "view", 1.0),
      (2L, 10L, baseUs + 30L * 60 * 1000000, "click", 2.0),
      (3L, 11L, baseUs + 90L * 60 * 1000000, "view", 3.0),
      (4L, 11L, baseUs + 90L * 60 * 1000000, "view", 4.0),
      (5L, 12L, baseUs + 7L * 1000000, "purchase", 5.0))
    val out = dir.resolve(if (asLong) "long" else "ntz").toString
    val df = rows.toDF("event_id", "user_id", "ts_us", "event_type", "value")
    val withTs =
      if (asLong) df.withColumn("ts", col("ts_us") * 1000L) // int64 nanos
      else df.withColumn("ts",
        timestamp_micros(col("ts_us")).cast("timestamp_ntz"))
    withTs.drop("ts_us").coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  test("hourly aggregation and epoch-us projection agree across ts layouts") {
    val dir = java.nio.file.Paths.get(tempDir("graft_events_ts"))
    val longPath = writeFixture(dir, asLong = true)
    val ntzPath = writeFixture(dir, asLong = false)
    def normalized(path: String) = {
      val raw = spark.read.parquet(path)
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType.type =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    }
    // the long fixture must actually read back as long (flag is set in
    // SparkSpec's session) and the ntz one as TIMESTAMP_NTZ — otherwise
    // this spec is not exercising both branches
    assert(spark.read.parquet(longPath).schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(spark.read.parquet(ntzPath).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    def hourly(path: String) = normalized(path)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("start_s"), col("event_type"), col("n"))
      .orderBy("start_s", "event_type")
      .collect().toSeq
    def epochUs(path: String) = normalized(path)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .orderBy("event_id").collect().toSeq
    assert(hourly(longPath) === hourly(ntzPath))
    assert(epochUs(longPath) === epochUs(ntzPath))
    // and the instants are the authored ones, not shifted by a timezone
    assert(epochUs(ntzPath).map(_.getLong(1)).head === 1700000000000000L)
  }
}
