package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's ingest path
  * (SURVEY.md §2.8, §3.1): JSON or Avro wire → parse + validate →
  * idempotent partitioned bronze sink with exactly-once semantics. The
  * wire arrives through checkpointed memory or file sources; there is no
  * Kafka endpoint, because no Kafka connector is on the classpath.
  *
  * Reference behaviors mapped:
  *  - S4 JSON decode + required-field validation with drop counting
  *    (consumer/meter_consumer.py:198-224) → `from_json` + filter + observe
  *  - S5 idempotent batched sink, `INSERT … ON CONFLICT DO NOTHING`
  *    (consumer/meter_consumer.py:82-149) → `foreachBatch` with in-batch
  *    `dropDuplicates` + partition-pruned anti-join against existing keys
  *  - ST1/ST2 size/time triggers → `Trigger.ProcessingTime`
  *  - ST4 at-least-once + dedup ⇒ exactly-once → checkpoint + idempotence
  *  - S11 1-day hypertable chunks → `partitionBy(reading_date)`
  *  - ST8 per-meter cumulative state → [[streamingDeltas]]
  *    (`flatMapGroupsWithState`), the stream-side version of the batch LAG
  *
  * Scale notes: the anti-join reads only the bronze partitions whose
  * `reading_date` appears in the incoming micro-batch (partition pruning —
  * never the whole table), and duplicate keys within a batch collapse
  * map-side before the exchange.
  */
object Ingest {

  /** The 5-field JSON wire schema (producer/meter_simulator.py:244-250). */
  val wireSchema: StructType = StructType(Seq(
    StructField("meter_id", IntegerType),
    StructField("reading_timestamp", StringType),
    StructField("reading_consumption_milliwatts", LongType),
    StructField("reading_production_milliwatts", LongType),
    StructField("status", StringType)))

  /** Parse the `value` JSON column and apply the consumer's validation:
    * required meter_id + reading_timestamp; malformed JSON ⇒ null struct ⇒
    * dropped. Drop counts are exposed through `observe("ingest", …)`
    * (the accumulator analogue of consumer failed-message counters). */
  def parseAndValidate(raw: DataFrame): DataFrame =
    validateParsed(raw
      .select(from_json(col("value").cast("string"), wireSchema).as("r"))
      .select(col("r.*"))
      .withColumn("reading_timestamp", try_to_timestamp(col("reading_timestamp"))))

  /** Avro record schema of the wire — the binary twin of [[wireSchema]].
    * At real wire volume binary beats JSON (~2-3× smaller payloads, no
    * string tokenization in the consumer hot path).
    *
    * Offline-environment note: Spark 4.1's spark-sql jar ships the Avro
    * FILE format internals (`AvroFileFormat` works via its class name —
    * FormatsSpec) but not the external module's `from_avro`/`to_avro`
    * expressions, so the wire codec below drives avro-core (on the Spark
    * classpath) directly in partition-preserving `mapPartitions` stages —
    * same no-shuffle shape, per-partition encoder/decoder reuse. */
  val avroWireSchema: String =
    """{"type":"record","name":"meter_reading","fields":[
      |{"name":"meter_id","type":["null","int"],"default":null},
      |{"name":"reading_timestamp","type":["null","string"],"default":null},
      |{"name":"reading_consumption_milliwatts","type":["null","long"],"default":null},
      |{"name":"reading_production_milliwatts","type":["null","long"],"default":null},
      |{"name":"status","type":["null","string"],"default":null}]}""".stripMargin

  /** Decoded-wire row; `None`s mark fields absent or malformed. */
  case class AvroWire(
      meter_id: Option[Int], reading_timestamp: Option[String],
      reading_consumption_milliwatts: Option[Long],
      reading_production_milliwatts: Option[Long], status: Option[String])

  /** Binary wire frame: key = meter_id, value = one Avro binary record. */
  def toAvroWire(readings: DataFrame): DataFrame = {
    val spark = readings.sparkSession
    import spark.implicits._
    readings
      .select(col("meter_id").cast("int"),
        col("reading_timestamp").cast("string"),
        col("reading_consumption_milliwatts"),
        col("reading_production_milliwatts"), col("status"))
      .as[(Int, String, Option[Long], Option[Long], String)]
      .mapPartitions { rows =>
        val schema = new org.apache.avro.Schema.Parser().parse(avroWireSchema)
        val writer =
          new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema)
        val out = new java.io.ByteArrayOutputStream(64)
        var enc: org.apache.avro.io.BinaryEncoder = null
        rows.map { case (id, ts, cons, prod, status) =>
          out.reset()
          enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, enc)
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          rec.put("meter_id", id)
          rec.put("reading_timestamp", ts)
          rec.put("reading_consumption_milliwatts", cons.map(Long.box).orNull)
          rec.put("reading_production_milliwatts", prod.map(Long.box).orNull)
          rec.put("status", status)
          writer.write(rec, enc)
          enc.flush()
          (id.toString, out.toByteArray)
        }
      }
      .toDF("key", "value")
  }

  /** Avro twin of [[parseAndValidate]]: malformed records decode to
    * all-NULL rows, dropped by the same validation filter. */
  def parseAndValidateAvro(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val parsed = raw.select(col("value")).as[Array[Byte]]
      .mapPartitions { rows =>
        val schema = new org.apache.avro.Schema.Parser().parse(avroWireSchema)
        val reader =
          new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord](schema)
        var dec: org.apache.avro.io.BinaryDecoder = null
        rows.map { bytes =>
          try {
            dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, dec)
            val rec = reader.read(null, dec)
            def str(n: String) = Option(rec.get(n)).map(_.toString)
            AvroWire(
              Option(rec.get("meter_id")).map(_.asInstanceOf[Int]),
              str("reading_timestamp"),
              Option(rec.get("reading_consumption_milliwatts")).map(_.asInstanceOf[Long]),
              Option(rec.get("reading_production_milliwatts")).map(_.asInstanceOf[Long]),
              str("status"))
          } catch {
            case scala.util.control.NonFatal(_) => AvroWire(None, None, None, None, None)
          }
        }
      }
      .toDF()
      .withColumn("reading_timestamp", try_to_timestamp(col("reading_timestamp")))
    validateParsed(parsed, "ingest_avro")
  }

  /** Shared consumer validation over a decoded wire frame (JSON or Avro);
    * `metric` names the observation (must be unique within one query). */
  private def validateParsed(parsed: DataFrame, metric: String = "ingest"): DataFrame = {
    val observed =
      if (parsed.isStreaming) parsed
      else parsed.observe(metric,
        count(lit(1)).as("n_total"),
        count(when(col("meter_id").isNull || col("reading_timestamp").isNull, 1))
          .as("n_invalid"))
    observed.filter(col("meter_id").isNotNull && col("reading_timestamp").isNotNull)
  }

  /** What one [[idempotentAppend]] did to bronze, as ISO date strings:
    *
    *  - `touched`: the batch's distinct `reading_date`s, whether or not
    *    any of its rows were new (empty for an empty batch);
    *  - `landed`: the touched dates that received at least one new row —
    *    empty for an exact replay;
    *  - `before`: bronze's `reading_date=` partitions listed before the
    *    write, so bronze afterwards holds exactly `before ∪ landed`. */
  final case class Landing(touched: Seq[String], landed: Seq[String], before: Seq[String])

  /** Idempotent append of one (micro-)batch into the date-partitioned
    * bronze table: in-batch dedup on the composite key, then a left-anti
    * join against only the already-present keys that could possibly
    * collide. Replaying the same batch (checkpoint recovery,
    * at-least-once upstream) therefore writes zero rows — the Parquet
    * analogue of `ON CONFLICT (reading_timestamp, meter_id) DO NOTHING`.
    *
    * The anti-join's existing-keys read is bounded TWICE (the r9 phase
    * attribution showed this read, not the mart rebuild, bounds the gold
    * loop — it grew with the day's accumulated rows):
    *
    *  1. date partitions: broadcast semi-join on the partition column
    *     (dynamic partition pruning skips untouched date chunks), fully
    *     distributed however many dates a replayed backfill spans;
    *  2. KEY RANGE inside the day: the composite key CONTAINS the
    *     timestamp, so an existing key can collide only if it lies inside
    *     the batch's own [min, max] reading_timestamp interval — the
    *     pushed-down range predicate lets parquet row-group statistics
    *     skip every previously-landed file that doesn't overlap. A
    *     forward-moving stream therefore reads ZERO existing row groups
    *     at steady state (each batch's range is new); a replay reads back
    *     exactly its own original landing; a backfill reads only the
    *     region it overlaps. Cost is O(batch), not O(day-so-far).
    *
    * The parsed batch is persisted for its two consumers (range bounds
    * and touched dates, the landing write) — one parse instead of two
    * re-parses of the wire format. The bounds are taken BEFORE the
    * in-batch dedup (min, max and the date set are the same with or
    * without duplicates), so the bounds job has no shuffle; the dedup
    * runs inside the write's plan.
    *
    * Returns the [[Landing]]: the touched dates, the landed dates and
    * the pre-write partition listing. `landed` is counted by the write
    * itself: each row that reaches the writer adds its day to an
    * accumulator, whose task updates the scheduler merges on the driver
    * before the write's job returns (no listener bus, no extra job, no
    * listing of the touched partitions, so its cost does not grow with
    * the files a day has already landed). A downstream partition-scoped
    * refresh uses it to skip an exact replay entirely (see
    * [[StreamingMarts.startIngestWithMartRefresh]]). `beforeWrite` runs
    * with the touched dates after the bounds are known and before the
    * first bronze file is written (never for an empty batch) — the place
    * for a crash-intent record that must be durable before bronze
    * changes. */
  def idempotentAppend(batch: DataFrame, bronzeDir: String,
      beforeWrite: Seq[String] => Unit = _ => ()): Landing = {
    val spark = batch.sparkSession
    // the first-batch case is an explicit EXISTENCE check, not a
    // swallowed exception: a transient read failure after bronze exists
    // must propagate (the batch retries) — treating it as "no bronze yet"
    // would silently disable dedup for the batch and double-land rows
    // into every downstream mart. "Exists" means at least one
    // reading_date= PARTITION directory, not a bare non-empty listing: a
    // dir holding only a _temporary leftover of a crashed in-flight first
    // landing (or other non-data entries) would make the parquet read
    // fail schema inference on every retry — a permanently wedged
    // stream, worse than either honest outcome
    val before = bronzeDates(spark, bronzeDir)
    val parsed = batch
      .withColumn("arrived_at", current_timestamp())
      .withColumn("reading_date", to_date(col("reading_timestamp")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one pass over the persisted batch yields the key range AND the
      // touched-dates list (both tiny: 2 timestamps + |days| strings)
      val bounds = parsed
        .agg(min(col("reading_timestamp")), max(col("reading_timestamp")),
          collect_set(col("reading_date").cast("string"))).head()
      if (bounds.isNullAt(0)) return Landing(Nil, Nil, before) // empty batch
      val (lo, hi) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
      val touched = bounds.getSeq[String](2).sorted
      // no isEmpty pre-probe: an anti-join against an empty pruned scan
      // costs nothing extra, while the probe was a whole scheduled job
      // per micro-batch — at a 1 s trigger, per-batch job count IS the
      // fixed-cost floor the sustainable rate divides by
      val deduped = parsed.dropDuplicates("reading_timestamp", "meter_id")
      val fresh =
        if (before.isEmpty) deduped
        else deduped.join(spark.read.parquet(bronzeDir)
          .filter(col("reading_timestamp").between(lit(lo), lit(hi))
            && col("reading_date").cast("string").isin(touched: _*))
          .select(col("reading_timestamp"), col("meter_id")),
          Seq("reading_timestamp", "meter_id"), "left_anti")
      // the always-true mark is nondeterministic, so it stays above the
      // anti-join and sees exactly the rows the writer receives
      val landedDays = new DaySet
      spark.sparkContext.register(landedDays)
      val mark = udf { (day: Int) => landedDays.add(day); true }.asNondeterministic()
      beforeWrite(touched)
      fresh.filter(mark(unix_date(col("reading_date"))))
        .write.mode("append").partitionBy("reading_date").parquet(bronzeDir)
      val landed = landedDays.value.map(d => java.time.LocalDate.ofEpochDay(d.toLong).toString)
      Landing(touched, touched.filter(landed), before)
    } finally parsed.unpersist()
  }

  /** The distinct epoch days added to it, merged across tasks. */
  private final class DaySet(private var days: Set[Int] = Set.empty)
      extends org.apache.spark.util.AccumulatorV2[Int, Set[Int]] {
    def isZero: Boolean = days.isEmpty
    def copy(): DaySet = new DaySet(days)
    def reset(): Unit = days = Set.empty
    def add(day: Int): Unit = days += day
    def merge(other: org.apache.spark.util.AccumulatorV2[Int, Set[Int]]): Unit =
      days ++= other.value
    def value: Set[Int] = days
  }

  /** Driver-side listing of bronze's `reading_date=` partition
    * directories — the landing high-water mark, no data scan. */
  private[streaming] def bronzeDates(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("reading_date="))
      .map(_.getPath.getName.stripPrefix("reading_date="))
  }

  /** The full streaming ingest: JSON source → validate → idempotent bronze.
    * Exactly-once = checkpointing (offset tracking replaces manual Kafka
    * commits, consumer/meter_consumer.py:288) + [[idempotentAppend]]. */
  def startIngest(
      jsonLines: DataFrame,
      bronzeDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds") /* ST2 */): StreamingQuery =
    parseAndValidate(jsonLines).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, _: Long) => idempotentAppend(df, bronzeDir); () }
      .start()

  /** Streaming ingest with a DEAD-LETTER channel: one parse per
    * micro-batch, valid rows idempotently into bronze, rejected payloads
    * into a quarantine table with the raw wire bytes and a reason —
    * batch-id-partitioned with dynamic overwrite, so a replayed batch
    * rewrites its own partition instead of duplicating (replay-idempotent
    * like the bronze side). The reference only counts failures
    * (consumer/meter_consumer.py failed-message counters); at 100 TB the
    * payloads must be kept for reprocessing, not just counted. */
  def startIngestWithQuarantine(
      jsonLines: DataFrame,
      bronzeDir: String,
      quarantineDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    jsonLines.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatchWithQuarantine(batch, batchId, bronzeDir, quarantineDir)
      }
      .start()

  /** One micro-batch of the quarantine ingest (exposed for direct
    * replay testing): parse once, split on validity, bronze-append the
    * valid side idempotently, dead-letter the rest into the batch's own
    * partition (dynamic overwrite ⇒ replaying the same batchId rewrites
    * rather than duplicates). */
  def ingestBatchWithQuarantine(
      batch: DataFrame, batchId: Long,
      bronzeDir: String, quarantineDir: String): Unit = {
    // materialize once: two sinks consume this frame, and without it each
    // write re-reads the micro-batch source and re-runs from_json (the
    // classic foreachBatch multi-sink pitfall)
    val parsed = batch.select(
      col("value").cast("string").as("raw"),
      from_json(col("value").cast("string"), wireSchema).as("r"))
      .withColumn("ts", try_to_timestamp(col("r.reading_timestamp")))
      .localCheckpoint()
    val ok = col("r.meter_id").isNotNull && col("ts").isNotNull
    idempotentAppend(
      parsed.filter(ok)
        .select(col("r.meter_id"), col("ts").as("reading_timestamp"),
          col("r.reading_consumption_milliwatts"),
          col("r.reading_production_milliwatts"), col("r.status")),
      bronzeDir)
    // from_json PERMISSIVE yields an all-null struct for garbage input
    val allNull = col("r.meter_id").isNull &&
      col("r.reading_timestamp").isNull && col("r.status").isNull &&
      col("r.reading_consumption_milliwatts").isNull
    parsed.filter(!ok)
      .select(col("raw"),
        when(allNull, "malformed_json")
          .when(col("r.meter_id").isNull, "missing_meter_id")
          .when(col("r.reading_timestamp").isNull, "missing_timestamp")
          .otherwise("bad_timestamp").as("reason"),
        lit(batchId).as("batch_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(quarantineDir)
  }

  // ---- ST8: stream-side cumulative→delta with per-meter state ----

  case class WireReading(
      meter_id: Int,
      reading_timestamp: java.sql.Timestamp,
      reading_consumption_milliwatts: Long,
      reading_production_milliwatts: Option[Long],
      status: String)

  case class MeterState(lastCons: Long, lastProd: Option[Long])

  case class DeltaReading(
      meter_id: Int,
      reading_timestamp: java.sql.Timestamp,
      consumption_delta_mwh: Long,
      production_delta_mwh: Option[Long],
      status: String)

  /** Stream-side duplicate suppression with BOUNDED state (ST4's scale
    * form): `dropDuplicatesWithinWatermark` on the composite key keeps a
    * key's dedup state only until the event-time watermark passes it, so
    * state is O(keys inside the watermark horizon) — at 1 M meters on
    * the 15-min grid with a 10-min delay that is ~one interval's keys,
    * independent of stream lifetime, where plain `dropDuplicates` on a
    * stream accumulates every key ever seen. Division of labor: this
    * suppresses the at-least-once delivery duplicates (retries,
    * producer re-sends) cheaply in-flight; the sink-side
    * [[idempotentAppend]] anti-join remains the ALL-TIME backstop for
    * replays that arrive after the watermark has passed (checkpoint
    * recovery of old data) — IngestSpec proves both halves. */
  def streamingDedupWithinWatermark(
      readings: Dataset[WireReading],
      delay: String = "10 minutes"): Dataset[WireReading] = {
    import readings.sparkSession.implicits._
    readings
      .withWatermark("reading_timestamp", delay)
      .dropDuplicatesWithinWatermark("meter_id", "reading_timestamp")
      .as[WireReading]
  }

  /** Per-meter stateful delta computation on the stream — what the batch
    * LAG staging does, but incremental (SURVEY.md §7.4.2). First reading's
    * delta = cumulative value, matching stg_meter_readings.sql:46-54. */
  def streamingDeltas(readings: Dataset[WireReading]): Dataset[DeltaReading] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.meter_id)
      .flatMapGroupsWithState[MeterState, DeltaReading](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[WireReading], state: GroupState[MeterState]) =>
          // within a micro-batch rows may arrive unordered: sort by event time
          val sorted = rows.toSeq.sortBy(_.reading_timestamp.getTime)
          var st = state.getOption.getOrElse(MeterState(-1L, None))
          val out = sorted.map { r =>
            val consDelta =
              if (st.lastCons < 0) r.reading_consumption_milliwatts
              else r.reading_consumption_milliwatts - st.lastCons
            val prodDelta = r.reading_production_milliwatts.map { p =>
              st.lastProd.fold(p)(lp => p - lp)
            }
            st = MeterState(r.reading_consumption_milliwatts,
              r.reading_production_milliwatts.orElse(st.lastProd))
            DeltaReading(r.meter_id, r.reading_timestamp, consDelta, prodDelta, r.status)
          }
          state.update(st)
          out.iterator
      }
  }
}
