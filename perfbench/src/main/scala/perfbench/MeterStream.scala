package perfbench

import graft.meter.{Marts, MeterGen, Staging}
import graft.streaming.StreamingMarts
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `meter_stream`: the production gold loop
  * (`StreamingMarts.startIngestWithMartRefresh`) fed JSON wire strings from a
  * `MemoryStream`, one 15-minute interval of every meter per micro-batch.
  * Each op adds one batch and waits for its commit. Every second op
  * re-delivers an earlier batch chosen by the seed (at-least-once replay),
  * which must land zero rows. Batches are small, so this is the fixed-cost
  * regime: listings, schema reads, job scheduling and checkpoint commits. */
final class MeterStream(ctx: Ctx, nMeters: Long, nBatches: Int, warmBatches: Int)
    extends Workload {
  private val spark = ctx.spark
  private val bronze = ctx.root("stream_bronze")
  private val mart = ctx.root("stream_mart_billing")
  private val ckpt = ctx.root("stream_checkpoint")
  private val meters = MeterGen.metersDim(spark, nMeters)
  private val customers = MeterGen.customers(spark, nMeters)
  private val tariff = MeterGen.tariffRates(spark)
  private val rng = new scala.util.Random(ctx.seed)
  // (landMs, rebuildMs, epoch ms at the end of the batch body) per batch
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

  private var wire: IndexedSeq[Seq[String]] = IndexedSeq.empty
  private var mem: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var sent = 0 // in-order batches delivered so far

  val spans: Seq[String] = Seq("land", "rebuild", "engine")

  /** The wire messages of each 15-minute interval, in interval order. */
  private def wireBatches(): IndexedSeq[Seq[String]] = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    MeterGen.readings(spark, nMeters, nBatches)
      .select(
        ((unix_timestamp(col("reading_timestamp")) -
          unix_timestamp(lit(MeterGen.Epoch))) / 900).cast("long"),
        to_json(struct(
          col("meter_id"),
          date_format(col("reading_timestamp"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("reading_timestamp"),
          col("reading_consumption_milliwatts"),
          col("reading_production_milliwatts"),
          col("status"))))
      .as(enc).collect().toSeq
      .groupBy(_._1).toIndexedSeq.sortBy(_._1).map(_._2.map(_._2))
  }

  private def landedRows(): Long =
    if (sent == 0) 0L else spark.read.parquet(bronze).count()

  /** Delivers one batch and waits for its commit; returns its latency. */
  private def deliver(batch: Seq[String]): Double = {
    phases.clear()
    val opStart = System.currentTimeMillis()
    val (_, s) = Ctx.time { mem.addData(batch); query.processAllAvailable() }
    val opEnd = System.currentTimeMillis()
    var engineFrom = opStart
    phases.forEach { case (landMs, rebuildMs, end) =>
      val landStart = end - rebuildMs - landMs
      ctx.recordSpan("engine", engineFrom, landStart, (landStart - engineFrom) / 1000.0)
      ctx.recordSpan("land", landStart, end - rebuildMs, landMs / 1000.0)
      ctx.recordSpan("rebuild", end - rebuildMs, end, rebuildMs / 1000.0)
      engineFrom = end
    }
    ctx.recordSpan("engine", engineFrom, opEnd, (opEnd - engineFrom) / 1000.0)
    s
  }

  private def inOrder(): Double = {
    val s = deliver(wire(sent))
    sent += 1
    val n = landedRows()
    ctx.gate(n == sent * nMeters, s"bronze holds $n rows after $sent batches of $nMeters")
    s
  }

  private def replay(): Double = {
    val before = landedRows()
    val s = deliver(wire(rng.nextInt(sent)))
    val after = landedRows()
    ctx.gate(after == before, s"a re-delivered batch landed ${after - before} rows")
    s
  }

  def setup(): Unit = {
    wire = wireBatches()
    mem = MemoryStream[String](Encoders.STRING, spark.sqlContext)
    query = StreamingMarts.startIngestWithMartRefresh(mem.toDF(), meters, customers,
      tariff, bronze, mart, ckpt, Trigger.ProcessingTime(0L),
      (landMs, rebuildMs) => phases.add((landMs, rebuildMs, System.currentTimeMillis())))
    ctx.log("stream query started")
    (0 until warmBatches).foreach { i =>
      val s = if (i % 2 == 1) replay() else inOrder()
      ctx.log(f"stream warm-up batch $i: ${s * 1000}%.0f ms")
    }
  }

  private var k = 0

  /** An in-order batch, then a re-delivery. */
  def step(): Boolean = sent < wire.size && {
    if (k % 2 == 1)
      ctx.op("replay") { _ => val s = replay(); ctx.add("replay_s", s); s }
    else
      ctx.op("commit", alternate = true) { _ => val s = inOrder(); ctx.add("commit_s", s); s }
    k += 1
    true
  }

  /** The on-disk mart must equal a full recompute from bronze. */
  def verify(): Unit = {
    query.stop()
    MeterStream.checkMart(spark, bronze, mart, meters, customers, tariff)
  }

  def close(): Unit = if (query != null) query.stop()

  private def rowsPerS: Figure = {
    val xs = ctx.samplesOf("commit_s")
    Figure("rows_per_s", "1/s", nMeters * xs.size / xs.sum, xs.size)
  }

  def endToEnd: Seq[Figure] = Seq(
    rowsPerS,
    Ctx.figure("commit_p50_ms", "ms", ctx.samplesOf("commit_s").map(_ * 1000)),
    Ctx.figure("read_p50_ms", "ms", ctx.samplesOf("replay_s").map(_ * 1000)))

  def report: Seq[Figure] = Seq(
    rowsPerS.copy(name = "stream_rows_per_s"),
    Ctx.figure("stream_commit_p50_ms", "ms", ctx.samplesOf("commit_s").map(_ * 1000)),
    Ctx.figure("stream_replay_p50_ms", "ms", ctx.samplesOf("replay_s").map(_ * 1000)))
}

object MeterStream {
  /** Gate: the billing mart on disk equals `Marts.factCustomerBillingDaily`
    * recomputed over the whole bronze table, compared with `exceptAll` in
    * both directions. */
  def checkMart(spark: org.apache.spark.sql.SparkSession, bronze: String, mart: String,
      meters: DataFrame, customers: DataFrame, tariff: DataFrame): Unit = {
    val full = Marts.factCustomerBillingDaily(
      Staging.stgMeterReadings(spark.read.parquet(bronze)), meters, customers, tariff)
    val cols = full.columns.sorted.toIndexedSeq
    val (want, got) = (full.selectExpr(cols: _*), spark.read.parquet(mart).selectExpr(cols: _*))
    val (missing, extra) = (want.exceptAll(got).count(), got.exceptAll(want).count())
    if (missing != 0 || extra != 0)
      throw new GateFailure(s"billing mart differs from a full recompute: " +
        s"$missing row(s) missing, $extra row(s) extra")
  }
}
