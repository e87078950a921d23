package graft.streaming

import graft.meter.MeterGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming reading generator — the producer's burst emission mode
  * (SURVEY.md §2.8 ST11, `producer/meter_simulator.py:351-391`,
  * `.env:20-22`) on Spark's `rate-micro-batch` source: `meterCount` rows
  * per batch, all meters at once per interval, like the producer's batch
  * loop.
  *
  * The value model is IDENTICAL to the batch generator ([[MeterGen]]) — the
  * same deterministic hash-uniform columns keyed by (meter, interval), so a
  * streamed corpus equals the batch corpus row-for-row (asserted in
  * StreamingGenSpec). Cumulative counters ride per-meter state downstream
  * ([[Ingest.streamingDeltas]] is the inverse), or are reconstructed in
  * batch from the increments; the stream emits per-interval increments plus
  * the JSON wire frame.
  */
object RateSimulator {

  /** Map a stream of (meter_id, interval i) ticks to the deterministic
    * reading-increment columns of [[MeterGen.readings]]. */
  def readingColumns(ticks: DataFrame, nIntervals: Long): DataFrame =
    ticks
      .withColumn("k", col("meter_id") * 100000L + col("i"))
      .withColumn("h", expr("(i % 96) div 4"))
      .withColumn("ub", MeterGen.u(col("k") * 3 + 1))
      .withColumn("uv", MeterGen.u(col("k") * 3 + 2))
      .withColumn("us", MeterGen.u(col("k") * 3 + 3))
      .withColumn("up", MeterGen.u(col("k") * 5 + 1))
      .withColumn("uw", MeterGen.u(col("k") * 5 + 2))
      .withColumn("cons_watts",
        when((col("h") >= 6 && col("h") < 9) || (col("h") >= 17 && col("h") < 22),
          lit(2000) + lit(3000) * col("ub"))
          .when(col("h") >= 22 || col("h") < 6, lit(500) + lit(1000) * col("ub"))
          .otherwise(lit(1000) + lit(2000) * col("ub")) * (lit(0.8) + lit(0.4) * col("uv")))
      .withColumn("prod_watts",
        when(col("meter_id") % 2 === 0,
          when(col("h") >= 6 && col("h") < 18,
            (lit(3000) + lit(3000) * col("up")) * (lit(1) - abs(col("h") - 12) / 6.0)
              * (lit(0.8) + lit(0.4) * col("uw")))
            .otherwise(lit(0.0))))
      .select(
        expr(s"timestamp '${MeterGen.Epoch}' + make_interval(0, 0, 0, 0, 0, cast(i * 15 as int), 0)")
          .as("reading_timestamp"),
        col("meter_id").cast("int").as("meter_id"),
        round(col("cons_watts") * 250).cast("long").as("consumption_inc_mwh"),
        round(col("prod_watts") * 250).cast("long").as("production_inc_mwh"),
        when(col("us") * 100 < 98.0, "V")
          .when(col("us") * 100 < 99.5, "E")
          .otherwise("R").as("status"))

  /** Burst mode: every micro-batch carries ALL meters for one interval
    * (producer/meter_simulator.py:351-353). */
  def burst(spark: SparkSession, meterCount: Long, nIntervals: Long): DataFrame = {
    val rate = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", meterCount)
      .load()
    readingColumns(
      rate.select(
        (col("value") % meterCount + 1).as("meter_id"),
        (col("value") / meterCount).cast("long").as("i")),
      nIntervals)
  }

  /** The JSON wire frame of a streamed reading (keyed like the Kafka
    * message: producer/meter_simulator.py:283-285): key = meter_id,
    * value = 5-field JSON. Field names match [[Ingest.wireSchema]] so the
    * consumer decodes every field (the increments ride in the counter
    * fields of the wire). */
  def toWire(readings: DataFrame): DataFrame =
    readings.select(
      col("meter_id").cast("string").as("key"),
      to_json(struct(
        col("meter_id"), col("reading_timestamp"),
        col("consumption_inc_mwh").as("reading_consumption_milliwatts"),
        col("production_inc_mwh").as("reading_production_milliwatts"),
        col("status"))).as("value"))
}
