package graft.streaming

import graft.SparkSpec
import graft.meter.{MeterGen, Staging}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** [[StreamingMarts.boundedStagingSlice]] pinned against full-history
  * staging on the case the NULL-lag intuition misses: a meter PRESENT at
  * an earlier base date whose true LAG predecessor sits at a NON-base
  * date. The bounded slice's window would silently hand the rebuild a
  * WRONG predecessor (not a NULL — the earlier base row), inflating the
  * first-interval delta with no error anywhere; the suspect probe must
  * widen the read to the true predecessor's partition.
  */
class StagingSliceSpec extends SparkSpec {

  private val nM = 50L
  private val nI = 384L // 4 days: 2026-01-01 .. 2026-01-04

  private def onDay(d: String) =
    to_date(col("reading_timestamp")) === lit(d).cast("date")

  private def writeBronze(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("slice_bronze_").toString + "/b"
    df.withColumn("reading_date", to_date(col("reading_timestamp")))
      .write.partitionBy("reading_date").parquet(dir)
    dir
  }

  private def stagedDay(full: org.apache.spark.sql.DataFrame, day: String) =
    Staging.stgMeterReadings(full).filter(onDay(day))

  private def assertSliceExact(full: org.apache.spark.sql.DataFrame,
      dir: String, day: String): Unit = {
    val got = StreamingMarts.boundedStagingSlice(spark, dir, Seq(day),
      Ingest.bronzeDates(spark, dir))
    val expect = stagedDay(full, day)
    val cols = expect.columns.sorted.toIndexedSeq
    assert(got.count() === expect.count())
    assert(got.selectExpr(cols: _*).except(expect.selectExpr(cols: _*)).count() === 0
      && expect.selectExpr(cols: _*).except(got.selectExpr(cols: _*)).count() === 0,
      s"bounded slice for $day must equal full-history staging")
  }

  test("wrong-predecessor gap: a meter present at day 1 with its true predecessor at day 2 (outside base) is probed and healed") {
    // the gap meters have rows on days 1, 2, 4 but are SILENT on day 3:
    // rebuilding day 4 with base = {day3, day4} sees their day-1 rows
    // only if widened — and their true predecessor is the day-2 last
    // reading, which is in NEITHER base partition. An unwidened window
    // would coalesce to the day-1 row... nothing is in base at all for
    // them, so the probe must surface day 2 specifically.
    val gap = col("meter_id") % 10 === 5 && onDay("2026-01-03")
    val full = MeterGen.readings(spark, nM, nI).filter(!gap)
    val dir = writeBronze(full)
    assertSliceExact(full, dir, "2026-01-04")
  }

  test("two-day silence with an in-base decoy row: the probe must pick day 1, not trust the base") {
    // gap meters silent on days 2 AND 3: true predecessor of their day-4
    // first reading is back on day 1 — two partitions below the base
    // floor. Dense meters stay exact through the ordinary base read.
    val gap = col("meter_id") % 10 === 7 &&
      to_date(col("reading_timestamp")).between("2026-01-02", "2026-01-03")
    val full = MeterGen.readings(spark, nM, nI).filter(!gap)
    val dir = writeBronze(full)
    assertSliceExact(full, dir, "2026-01-04")
  }

  test("dense bronze: the base read alone is exact and the probe machinery stays cold") {
    val full = MeterGen.readings(spark, nM, nI)
    val dir = writeBronze(full)
    // no bronze partition predates the base slice floor for day 2, so
    // the precondition skips the probe entirely — and the result is
    // still exact
    assertSliceExact(full, dir, "2026-01-02")
    // interior day with history below the base floor: partitions exist
    // below base (day 1 < base floor day 1? base = {d1, d2}; d... day 3
    // has base {d2, d3} with day 1 outside it) — probe path engaged,
    // result identical because every predecessor is at day-1 anyway
    assertSliceExact(full, dir, "2026-01-03")
  }
}
