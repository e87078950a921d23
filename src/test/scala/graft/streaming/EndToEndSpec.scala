package graft.streaming

import graft.SparkSpec
import graft.meter.{Marts, MeterGen, Staging}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Capstone integration: the full reference path on the stream —
  * generator → JSON wire (S1) → exactly-once ingest (S2/S4/S5) →
  * chunked bronze (S11) → LAG staging (W1/W2) → billing mart (A1-A7)
  * — produces the identical mart the pure-batch pipeline produces.
  */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  /** The 5-field JSON wire messages of `f`'s readings. */
  private def wireOf(f: org.apache.spark.sql.DataFrame): Seq[String] = f
    .select(to_json(struct(
      col("meter_id"),
      date_format(col("reading_timestamp"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("reading_timestamp"),
      col("reading_consumption_milliwatts"),
      col("reading_production_milliwatts"),
      col("status"))).as("value"))
    .as[String].collect().toSeq

  /** Every mart parquet file with its mtime. */
  private def martFiles(mart: String): Map[String, Long] =
    Files.walk(java.nio.file.Paths.get(mart)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .map(p => p -> Files.getLastModifiedTime(java.nio.file.Paths.get(p)).toMillis).toMap

  /** Asserts the on-disk billing mart equals `Marts.factCustomerBillingDaily`
    * over the whole of bronze. */
  private def assertMartExact(bronze: String, mart: String, nMeters: Long): Unit = {
    val full = Marts.factCustomerBillingDaily(
      Staging.stgMeterReadings(spark.read.parquet(bronze).select(
        col("reading_timestamp"), col("meter_id"),
        col("reading_consumption_milliwatts"),
        col("reading_production_milliwatts"), col("status"))),
      MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      MeterGen.tariffRates(spark))
    val cols = full.columns.sorted.toIndexedSeq
    val got = spark.read.parquet(mart).selectExpr(cols: _*)
    assert(got.exceptAll(full.selectExpr(cols: _*)).count() == 0
      && full.selectExpr(cols: _*).exceptAll(got).count() == 0,
      "the billing mart must equal a full recompute over bronze")
  }

  test("streamed wire-format ingest reproduces the batch billing mart exactly") {
    val nMeters = 10L
    val nIntervals = 96L
    val dir = Files.createTempDirectory("e2e").toString
    val bronze = s"$dir/bronze"

    // the producer side: batch-generate the cumulative readings, frame
    // them as the 5-field JSON wire messages, and feed them through a
    // stream in two micro-batches (with a duplicate delivery)
    val wire = wireOf(MeterGen.readings(spark, nMeters, nIntervals))

    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    val (b1, b2) = wire.splitAt(wire.size / 2)
    mem.addData(b1)
    mem.addData(b1.take(50)) // at-least-once redelivery
    mem.addData(b2)
    val q = Ingest.startIngest(mem.toDF(), bronze, s"$dir/ckpt", Trigger.AvailableNow())
    q.awaitTermination(120000)

    val landed = spark.read.parquet(bronze)
    assert(landed.count() == nMeters * nIntervals) // duplicates absorbed

    // consumer side onward: staging + mart over the streamed bronze
    val streamedMart = Marts.factCustomerBillingDaily(
      Staging.stgMeterReadings(landed.select(
        col("reading_timestamp"), col("meter_id"),
        col("reading_consumption_milliwatts"),
        col("reading_production_milliwatts"), col("status"))),
      MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      MeterGen.tariffRates(spark))

    // pure-batch reference
    val batchMart = Marts.factCustomerBillingDaily(
      Staging.stgMeterReadings(MeterGen.readings(spark, nMeters, nIntervals)),
      MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      MeterGen.tariffRates(spark))

    val cols = batchMart.columns.sorted.toIndexedSeq
    assert(streamedMart.selectExpr(cols: _*).except(batchMart.selectExpr(cols: _*)).count() == 0)
    assert(batchMart.selectExpr(cols: _*).except(streamedMart.selectExpr(cols: _*)).count() == 0)
  }

  test("streaming mart refresh on disk: day-2 batch rebuilds only the day-2 partition") {
    val nMeters = 10L
    val nIntervals = 192L // 2 days
    val dir = Files.createTempDirectory("e2e_mart").toString

    val readings = MeterGen.readings(spark, nMeters, nIntervals)
    val day2 = col("reading_timestamp") >= lit("2026-01-02").cast("timestamp")
    val (w1, w2) = (wireOf(readings.filter(!day2)), wireOf(readings.filter(day2)))

    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingMarts.startIngestWithMartRefresh(
      mem.toDF(), MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      MeterGen.tariffRates(spark), s"$dir/bronze", s"$dir/mart", s"$dir/ckpt",
      Trigger.ProcessingTime("1 second"))
    try {
      // an empty batch 0 (what the rate source emits before its first
      // interval elapses) must be a no-op, not an UNABLE_TO_INFER_SCHEMA
      // crash from reading the not-yet-created bronze dir
      mem.addData(Seq.empty[String])
      q.processAllAvailable()
      assert(q.isActive, "empty first micro-batch killed the refresh query")
      assert(!Files.exists(java.nio.file.Paths.get(s"$dir/bronze")))

      mem.addData(w1)
      q.processAllAvailable()
      def mtimes(day: String) =
        Files.walk(java.nio.file.Paths.get(s"$dir/mart")).toArray.map(_.toString)
          .filter(p => p.endsWith(".parquet") && p.contains(s"billing_date=$day"))
          .sorted.map(p => Files.getLastModifiedTime(java.nio.file.Paths.get(p)).toMillis).toSeq
      val day1After1 = mtimes("2026-01-01")
      assert(day1After1.nonEmpty && mtimes("2026-01-02").isEmpty)
      Thread.sleep(1100)

      mem.addData(w2)
      q.processAllAvailable()
      assert(mtimes("2026-01-01") == day1After1,
        "a day-2 micro-batch must not rewrite the day-1 mart partition")
      assert(mtimes("2026-01-02").nonEmpty)
    } finally q.stop()

    // the disk mart equals the pure-batch full refresh
    val got = spark.read.parquet(s"$dir/mart")
    val full = Marts.factCustomerBillingDaily(
      Staging.stgMeterReadings(readings),
      MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      MeterGen.tariffRates(spark))
    val cols = full.columns.sorted.toIndexedSeq
    assert(got.count() == full.count())
    assert(got.selectExpr(cols: _*).except(full.selectExpr(cols: _*)).count() == 0)
    assert(full.selectExpr(cols: _*).except(got.selectExpr(cols: _*)).count() == 0)
  }

  test("streamed late replay across a multi-day outage: the gold loop heals the successor partition") {
    val nMeters = 10L
    val nIntervals = 384L // 4 days: 2026-01-01 .. 2026-01-04
    val dir = Files.createTempDirectory("e2e_late").toString

    // outage meters are silent on days 2-3 (those rows never exist);
    // their END of day 1 is replayed LATE, after day 4 already landed —
    // so the late rows' successor lives on day 4, three days away
    val outage = col("meter_id") % 2 === 1
    val gap = outage &&
      to_date(col("reading_timestamp")).between("2026-01-02", "2026-01-03")
    val all = MeterGen.readings(spark, nMeters, nIntervals).filter(!gap)
    val late = outage &&
      to_date(col("reading_timestamp")) === lit("2026-01-01").cast("date") &&
      hour(col("reading_timestamp")) >= 20
    def onDay(d: String) = to_date(col("reading_timestamp")) === lit(d).cast("date")
    val batches = Seq(
      wireOf(all.filter(onDay("2026-01-01") && !late)),
      wireOf(all.filter(onDay("2026-01-02") || onDay("2026-01-03"))),
      // day 4 alone: the outage meters' LAG predecessor is back on day 1,
      // outside the touched ∪ previous-day slice — the gap probe must
      // widen the read or the mart lands with a wrong first-interval delta
      wireOf(all.filter(onDay("2026-01-04"))),
      wireOf(all.filter(late)))

    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingMarts.startIngestWithMartRefresh(
      mem.toDF(), MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      MeterGen.tariffRates(spark), s"$dir/bronze", s"$dir/mart", s"$dir/ckpt",
      Trigger.ProcessingTime("1 second"))
    def mtimes(day: String) =
      Files.walk(java.nio.file.Paths.get(s"$dir/mart")).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains(s"billing_date=$day"))
        .sorted.map(p => Files.getLastModifiedTime(java.nio.file.Paths.get(p)).toMillis).toSeq
    try {
      batches.take(3).foreach { b => mem.addData(b); q.processAllAvailable() }
      val day2Before = mtimes("2026-01-02")
      val day4Before = mtimes("2026-01-04")
      assert(day2Before.nonEmpty && day4Before.nonEmpty)
      // the gap probe must have healed day 4 ALREADY (before the late
      // replay rebuilds it again): the outage meters' first day-4 delta
      // spans back to day 1, outside the touched ∪ previous-day slice
      val preLate = Marts.factCustomerBillingDaily(
        Staging.stgMeterReadings(all.filter(!late)),
        MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
        MeterGen.tariffRates(spark))
        .filter(col("billing_date") === lit("2026-01-04").cast("date"))
      val gotPre = spark.read.parquet(s"$dir/mart")
        .filter(col("billing_date") === lit("2026-01-04").cast("date"))
      val colsPre = preLate.columns.sorted.toIndexedSeq
      assert(gotPre.selectExpr(colsPre: _*).except(preLate.selectExpr(colsPre: _*)).count() == 0
        && preLate.selectExpr(colsPre: _*).except(gotPre.selectExpr(colsPre: _*)).count() == 0,
        "day-4 mart must be exact at landing time — the bounded staging " +
          "slice has to widen to the outage meters' day-1 predecessor")
      Thread.sleep(1100)

      mem.addData(batches(3)) // the late replay
      q.processAllAvailable()
      assert(mtimes("2026-01-02") == day2Before,
        "a day the late batch cannot stale must not be rebuilt")
      assert(mtimes("2026-01-04") != day4Before,
        "the successor partition ACROSS the outage must be invalidated — " +
          "a touched-only (or touched+1) rebuild set leaves it stale")
    } finally q.stop()

    val got = spark.read.parquet(s"$dir/mart")
    val full = Marts.factCustomerBillingDaily(
      Staging.stgMeterReadings(all),
      MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      MeterGen.tariffRates(spark))
    val cols = full.columns.sorted.toIndexedSeq
    assert(got.count() == full.count())
    assert(got.selectExpr(cols: _*).except(full.selectExpr(cols: _*)).count() == 0)
    assert(full.selectExpr(cols: _*).except(got.selectExpr(cols: _*)).count() == 0)
  }

  test("an exact re-delivery lands no row and rewrites no mart file") {
    val nMeters = 10L
    val dir = Files.createTempDirectory("e2e_replay").toString
    val readings = MeterGen.readings(spark, nMeters, 192L)
    val day2 = col("reading_timestamp") >= lit("2026-01-02").cast("timestamp")
    val (w1, w2) = (wireOf(readings.filter(!day2)), wireOf(readings.filter(day2)))

    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingMarts.startIngestWithMartRefresh(
      mem.toDF(), MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      MeterGen.tariffRates(spark), s"$dir/bronze", s"$dir/mart", s"$dir/ckpt",
      Trigger.ProcessingTime("1 second"))
    try {
      Seq(w1, w2).foreach { b => mem.addData(b); q.processAllAvailable() }
      val filesBefore = martFiles(s"$dir/mart")
      val bronzeBefore = spark.read.parquet(s"$dir/bronze").count()
      assert(filesBefore.nonEmpty && bronzeBefore == nMeters * 192L)
      Thread.sleep(1100)

      Seq(w1, w2).foreach { b => mem.addData(b); q.processAllAvailable() }
      assert(spark.read.parquet(s"$dir/bronze").count() == bronzeBefore)
      assert(martFiles(s"$dir/mart") == filesBefore,
        "a micro-batch that lands no row must not rebuild any mart partition")
      assert(!Files.exists(java.nio.file.Paths.get(s"$dir/ckpt/_mart_pending")))
    } finally q.stop()
    assertMartExact(s"$dir/bronze", s"$dir/mart", nMeters)
  }

  test("a crash between landing and rebuild is healed by the batch's re-run through the pending marker") {
    val nMeters = 10L
    val dir = Files.createTempDirectory("e2e_crash").toString
    val (bronze, mart, ckpt) = (s"$dir/bronze", s"$dir/mart", s"$dir/ckpt")
    val marker = java.nio.file.Paths.get(s"$ckpt/_mart_pending")
    // one day in two batches, so the crashed batch leaves the day-1 mart
    // partition present but stale (first half only)
    val readings = MeterGen.readings(spark, nMeters, 96L)
    val pm = hour(col("reading_timestamp")) >= 12
    val (am, rest) = (wireOf(readings.filter(!pm)), wireOf(readings.filter(pm)))
    // the tariff dim is read only by the mart rebuild: failing it while
    // armed kills the micro-batch after bronze landed and before the mart
    // write, which is the on-disk state of a crash at that point
    val crashGate = udf { () =>
      if (EndToEndSpec.crashRebuild) throw new IllegalStateException("injected crash")
      true
    }.asNondeterministic()
    val tariff = MeterGen.tariffRates(spark).filter(crashGate())

    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[String]
    def start() = StreamingMarts.startIngestWithMartRefresh(
      mem.toDF(), MeterGen.metersDim(spark, nMeters), MeterGen.customers(spark, nMeters),
      tariff, bronze, mart, ckpt, Trigger.ProcessingTime("1 second"))
    val q1 = start()
    try {
      mem.addData(am)
      q1.processAllAvailable()
      EndToEndSpec.crashRebuild = true
      mem.addData(rest)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q1.processAllAvailable())
    } finally {
      EndToEndSpec.crashRebuild = false
      q1.stop()
    }
    assert(spark.read.parquet(bronze).count() == nMeters * 96L, "bronze holds the crashed batch")
    assert(Files.readAllLines(marker).toArray.toSeq == Seq("2026-01-01"),
      "the marker holds the crashed batch's dates")
    val staleRows = spark.read.parquet(mart).agg(sum(col("total_reading_count"))).head().getLong(0)
    assert(staleRows == nMeters * 48L, "the mart partition is stale: first batch only")

    // restarting on the checkpoint re-runs the uncommitted batch (the
    // at-least-once re-delivery): it lands nothing but finds the marker
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(bronze).count() == nMeters * 96L)
    assert(!Files.exists(marker), "the marker goes once the mart write committed")
    assertMartExact(bronze, mart, nMeters)
  }
}

object EndToEndSpec {
  /** Makes the crash spec's mart rebuild fail while set. */
  @volatile var crashRebuild = false
}
