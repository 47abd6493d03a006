package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.SparkSuite

/** Regression pin for the round-9 outage: the driver's testdata has
  * shipped `events.ts` in two physical parquet encodings across
  * generations — TIMESTAMP(NANOS) (readable only as a bare long under
  * the legacy conf) and TIMESTAMP(MICROS) (read by Spark 4 as
  * TIMESTAMP_NTZ). Round 9 assumed nanos, so the micros generation
  * failed analysis in every events query AND the bench warm-up.
  * [[Tables]] must normalize BOTH encodings to the same session-UTC
  * TIMESTAMP column with identical instants. */
class TablesEncodingSpec extends SparkSuite {

  private def writeVariants(): (String, String) = {
    val base = java.nio.file.Files
      .createTempDirectory("tables-enc").toString
    val canonical = Tables(spark, sf0001, "events")
    // generation A: long epoch-nanos (what TIMESTAMP(NANOS) data looks
    // like through spark.sql.legacy.parquet.nanosAsLong)
    canonical.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .write.mode("overwrite").parquet(s"$base/nanos/events.parquet")
    // generation B: plain micros without timezone → reads back as NTZ
    canonical.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$base/ntz/events.parquet")
    (s"$base/nanos", s"$base/ntz")
  }

  test("Tables normalizes nano-long and micros-NTZ events identically") {
    val (nanosDir, ntzDir) = writeVariants()
    val a = Tables(spark, nanosDir, "events")
    val b = Tables(spark, ntzDir, "events")
    assert(a.schema("ts").dataType == TimestampType,
      "nanos generation must lift to session TIMESTAMP")
    assert(b.schema("ts").dataType == TimestampType,
      "NTZ generation must lift to session TIMESTAMP")
    // same instants, row for row (compare in the exact micros domain)
    val key = Seq("event_id")
    val joined = a.select(col("event_id"), unix_micros(col("ts")).as("ua"))
      .join(b.select(col("event_id"), unix_micros(col("ts")).as("ub")), key)
    assert(joined.count() == a.count())
    assert(joined.filter(col("ua") =!= col("ub")).count() == 0,
      "both encodings must decode to identical instants")
    // and both must match the driver's current testdata read exactly
    val want = Tables(spark, sf0001, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("uw"))
    assert(a.select(col("event_id"), unix_micros(col("ts")).as("ua"))
      .join(want, key).filter(col("ua") =!= col("uw")).count() == 0)
  }

  test("fan width caps at DefaultFanMax on a local session only") {
    assert(Tables.fanWidthOf(32, isLocal = true) == 16)
    assert(Tables.fanWidthOf(32, isLocal = false) == 32)
    assert(Tables.fanWidthOf(4, isLocal = true) == 4)
  }
}
