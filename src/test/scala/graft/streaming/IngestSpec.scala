package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming-semantics tests (SURVEY.md §2.8, §5): exactly-once through
  * duplicate delivery, checkpoint restart without loss, JSON validation
  * drops, and stream/batch delta equivalence.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def json(m: Int, ts: String, cons: Long, prod: Option[Long], st: String) = {
    val p = prod.map(_.toString).getOrElse("null")
    s"""{"meter_id": $m, "reading_timestamp": "$ts", "reading_consumption_milliwatts": $cons, "reading_production_milliwatts": $p, "status": "$st"}"""
  }

  test("parse + validate: malformed and required-field-missing rows dropped (S4)") {
    val rows = Seq(
      json(1, "2026-01-01T00:00:00+00:00", 100, None, "V"),
      json(2, "2026-01-01T00:00:00+00:00", 200, Some(50), "V"),
      """{"reading_timestamp": "2026-01-01T00:00:00+00:00", "reading_consumption_milliwatts": 1}""", // no meter_id
      """{"meter_id": 7, "reading_consumption_milliwatts": 1}""", // no timestamp
      """not json at all""")
    val out = Ingest.parseAndValidate(rows.toDF("value"))
    assert(out.count() == 2)
    assert(out.filter(col("meter_id") === 2).head().getAs[Long]("reading_production_milliwatts") == 50L)
  }

  test("JSON and Avro wires decode to identical rows") {
    val readings = Seq(
      (1, "2026-01-01T00:00:00+00:00", 100L, Some(50L), "VALID"),
      (2, "2026-01-01T00:15:00+00:00", 200L, None, "VALID"))
      .toDF("meter_id", "reading_timestamp", "reading_consumption_milliwatts",
        "reading_production_milliwatts", "status")
    val jsonWire = readings.select(to_json(struct(readings.columns.map(col): _*)).as("value"))
    val avroWire = Ingest.toAvroWire(readings)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"meter_id", $"reading_timestamp".cast("long"),
        $"reading_consumption_milliwatts", $"reading_production_milliwatts", $"status")
      .as[(Int, Long, Long, Option[Long], String)].collect().toSet
    val viaJson = rows(Ingest.parseAndValidate(jsonWire))
    val viaAvro = rows(Ingest.parseAndValidateAvro(avroWire))
    assert(viaJson === viaAvro && viaJson.size === 2)
  }

  test("idempotent sink: duplicate delivery and batch replay write no extra rows (S5/ST4)") {
    val bronze = Files.createTempDirectory("bronze").toString + "/t"
    val batch1 = Seq(
      json(1, "2026-01-01T00:00:00+00:00", 100, None, "V"),
      json(1, "2026-01-01T00:00:00+00:00", 100, None, "V"), // in-batch duplicate
      json(2, "2026-01-01T00:15:00+00:00", 200, Some(10), "V"))
    Ingest.idempotentAppend(Ingest.parseAndValidate(batch1.toDF("value")), bronze)
    assert(spark.read.parquet(bronze).count() == 2)
    // replay the whole batch (at-least-once upstream) → ON CONFLICT DO NOTHING
    Ingest.idempotentAppend(Ingest.parseAndValidate(batch1.toDF("value")), bronze)
    assert(spark.read.parquet(bronze).count() == 2)
    // a genuinely new reading still lands
    val batch2 = Seq(json(1, "2026-01-01T00:15:00+00:00", 260, None, "V"))
    Ingest.idempotentAppend(Ingest.parseAndValidate(batch2.toDF("value")), bronze)
    assert(spark.read.parquet(bronze).count() == 3)
    // day partitioning present (S11)
    assert(Files.list(java.nio.file.Paths.get(bronze)).toArray.map(_.toString)
      .exists(_.contains("reading_date=")))
  }

  test("first landing recovers from a _temporary-only bronze dir (crashed in-flight write)") {
    // a crash mid-first-landing leaves bronze holding only the committer's
    // _temporary dir — no reading_date= partition. The existence check must
    // read that as "no bronze yet" (the r11 bare-non-empty check handed the
    // dir to spark.read.parquet, which fails schema inference on every
    // retry: a permanently wedged stream)
    val bronze = Files.createTempDirectory("bronze_tmp_leftover").toString + "/t"
    Files.createDirectories(java.nio.file.Paths.get(s"$bronze/_temporary/0"))
    val batch = Seq(json(7, "2026-01-02T00:00:00+00:00", 100, None, "V"))
    val landing =
      Ingest.idempotentAppend(Ingest.parseAndValidate(batch.toDF("value")), bronze)
    assert(landing.touched === Seq("2026-01-02"))
    assert(spark.read.parquet(bronze).count() === 1)
    // and the landing is still idempotent afterwards
    Ingest.idempotentAppend(Ingest.parseAndValidate(batch.toDF("value")), bronze)
    assert(spark.read.parquet(bronze).count() === 1)
  }

  test("landed dates: empty for an exact replay, only the fresh date for a half-replayed two-date batch") {
    val bronze = Files.createTempDirectory("bronze_landed").toString + "/t"
    def append(rows: String*) =
      Ingest.idempotentAppend(Ingest.parseAndValidate(rows.toDF("value")), bronze)
    val day1 = json(1, "2026-01-01T23:45:00+00:00", 100, None, "V")
    val day2 = json(1, "2026-01-02T00:00:00+00:00", 150, None, "V")
    val first = append(day1)
    assert(first.touched === Seq("2026-01-01") && first.landed === Seq("2026-01-01")
      && first.before.isEmpty)
    val replay = append(day1)
    assert(replay.touched === Seq("2026-01-01") && replay.landed.isEmpty,
      "an exact replay lands no row, so it must report no landed date")
    assert(replay.before === Seq("2026-01-01"))
    val mixed = append(day1, day2)
    assert(mixed.touched === Seq("2026-01-01", "2026-01-02"))
    assert(mixed.landed === Seq("2026-01-02"),
      "only the date that received a new row landed")
    assert(spark.read.parquet(bronze).count() === 2)
  }

  test("streaming ingest end-to-end with checkpoint restart (ST2/ST4/ST10)") {
    val dir = Files.createTempDirectory("stream").toString
    val bronze = s"$dir/bronze"
    val ckpt = s"$dir/ckpt"
    implicit val sqlCtx = spark.sqlContext

    val mem1 = MemoryStream[String]
    mem1.addData(json(1, "2026-01-01T00:00:00+00:00", 100, None, "V"))
    mem1.addData(json(1, "2026-01-01T00:15:00+00:00", 250, None, "V"))
    val q1 = Ingest.startIngest(mem1.toDF(), bronze, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(60000)
    assert(spark.read.parquet(bronze).count() == 2)

    // restart from checkpoint with one replayed + one new row
    val mem2 = MemoryStream[String]
    mem2.addData(json(1, "2026-01-01T00:15:00+00:00", 250, None, "V")) // replay
    mem2.addData(json(2, "2026-01-01T00:15:00+00:00", 42, Some(5), "V")) // new
    val q2 = Ingest.startIngest(mem2.toDF(), bronze, s"$dir/ckpt2", Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val rows = spark.read.parquet(bronze)
    assert(rows.count() == 3) // replayed row absorbed
    assert(rows.filter(col("meter_id") === 2).count() == 1)
  }

  test("quarantine ingest: valid to bronze, rejects dead-lettered with reasons") {
    val dir = Files.createTempDirectory("quar").toString
    val bronze = s"$dir/bronze"
    val quarantine = s"$dir/quarantine"
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[String]
    mem.addData(
      json(1, "2026-01-01T00:00:00+00:00", 100, None, "V"),
      json(2, "2026-01-01T00:00:00+00:00", 200, Some(50), "V"),
      """{"reading_timestamp": "2026-01-01T00:00:00+00:00"}""", // no meter_id
      """{"meter_id": 7, "reading_timestamp": "not-a-time"}""", // bad ts
      """{"meter_id": 9, "status": "V"}""", // ts field absent entirely
      """###garbage###""")
    val q = Ingest.startIngestWithQuarantine(
      mem.toDF(), bronze, quarantine, s"$dir/ckpt", Trigger.AvailableNow())
    q.awaitTermination(60000)

    assert(spark.read.parquet(bronze).count() == 2)
    val bad = spark.read.parquet(quarantine)
    assert(bad.count() == 4)
    val reasons = bad.select("reason").as[String].collect().sorted.toSeq
    // '###garbage###' parses to a null struct -> malformed; the no-meter-id
    // row keeps a struct with a null field; an absent ts field is reported
    // as missing, not as a parse failure
    assert(reasons == Seq("bad_timestamp", "malformed_json",
      "missing_meter_id", "missing_timestamp"), reasons.toString)
    // raw payloads preserved for reprocessing
    assert(bad.filter(col("raw").contains("garbage")).count() == 1)

    // true replay: the SAME batchId delivered again (checkpoint recovery)
    // rewrites its own quarantine partition — no duplicates on either side
    val replay = Seq(
      json(2, "2026-01-01T00:00:00+00:00", 200, Some(50), "V"),
      """{"reading_timestamp": "2026-01-01T00:00:00+00:00"}""",
      json(1, "2026-01-01T00:00:00+00:00", 100, None, "V"),
      json(1, "2026-01-01T00:00:00+00:00", 100, None, "V"),
      """{"meter_id": 7, "reading_timestamp": "not-a-time"}""",
      """###garbage###""").toDF("value")
    Ingest.ingestBatchWithQuarantine(replay, 0L, bronze, quarantine)
    assert(spark.read.parquet(bronze).count() == 2, "bronze replay absorbed")
    assert(spark.read.parquet(quarantine).count() == 3, "quarantine replay rewrote batch 0")
    // a NEW batch's rejects append under their own batch_id partition
    Ingest.ingestBatchWithQuarantine(
      Seq("""###more garbage###""").toDF("value"), 1L, bronze, quarantine)
    assert(spark.read.parquet(quarantine).count() == 4)
    assert(spark.read.parquet(quarantine)
      .filter(col("batch_id") === 1).count() == 1)
  }

  test("streamingDeltas matches batch LAG staging (ST8 ≡ W1/W2)") {
    import graft.meter.{MeterGen, Staging}
    val raw = MeterGen.readings(spark, 5, 24)
    val wire = raw.select(
      col("meter_id"),
      col("reading_timestamp"),
      col("reading_consumption_milliwatts"),
      col("reading_production_milliwatts"),
      col("status")).as[Ingest.WireReading]
    // run the stateful op in batch mode via groupByKey on a bounded Dataset:
    // flatMapGroupsWithState needs a stream, so compare against two-batch replay
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ingest.WireReading]
    val q = Ingest.streamingDeltas(mem.toDS()).writeStream
      .format("memory").queryName("deltas_out").outputMode("append").start()
    // split in event-time order so each meter's readings stay ordered
    // across micro-batches (Kafka key-partitioning guarantee, ST5)
    val all = wire.collect().toSeq.sortBy(_.reading_timestamp.getTime)
    val (b1, b2) = all.splitAt(all.size / 2)
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("deltas_out")
      .select(col("meter_id"), col("reading_timestamp"), col("consumption_delta_mwh"))
    val batch = Staging.stgMeterReadings(raw)
      .select(col("meter_id"), col("reading_timestamp"), col("consumption_delta_mwh"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("watermark-bounded stream dedup: in-horizon duplicates suppressed, state does not grow with history (ST4 at scale)") {
    def w(m: Int, ts: String, cons: Long) = Ingest.WireReading(
      m, java.sql.Timestamp.valueOf(ts), cons, None, "V")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ingest.WireReading]
    val q = Ingest.streamingDedupWithinWatermark(mem.toDS(), "10 minutes")
      .writeStream
      .format("memory").queryName("dedup_wm_out").outputMode("append").start()
    try {
      // batch 1: two meters + an in-batch duplicate
      mem.addData(Seq(
        w(1, "2026-01-01 00:00:00", 100),
        w(1, "2026-01-01 00:00:00", 100), // in-batch duplicate
        w(2, "2026-01-01 00:00:00", 200)))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate INSIDE the 10-min horizon (the
      // at-least-once retry case) + genuinely new readings that advance
      // event time far past the old keys
      mem.addData(Seq(
        w(1, "2026-01-01 00:00:00", 100), // retry duplicate, in horizon
        w(1, "2026-01-01 00:15:00", 150),
        w(2, "2026-01-01 00:15:00", 250)))
      q.processAllAvailable()
      // batch 3: advance watermark well past 00:15 so earlier keys' dedup
      // state is evicted — bounded-state guarantee
      mem.addData(Seq(w(1, "2026-01-01 02:00:00", 300)))
      q.processAllAvailable()
      val out = spark.table("dedup_wm_out")
      // every unique (meter, ts) exactly once; duplicates never emitted
      assert(out.count() === 5)
      assert(out.groupBy("meter_id", "reading_timestamp").count()
        .filter(col("count") > 1).count() === 0)
      // bounded state: after the watermark passed 00:00/00:15, only keys
      // inside the horizon remain in the dedup store
      val progress = q.lastProgress
      val stateRows = progress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 3,
        s"dedup state must be watermark-bounded, found $stateRows rows")
      // the operator actually planned is the watermark-scoped dedup, not
      // the unbounded dropDuplicates
      assert(progress.stateOperators.exists(
        _.operatorName.toLowerCase.contains("withinwatermark")),
        progress.stateOperators.map(_.operatorName).mkString(","))
    } finally q.stop()
  }
}
