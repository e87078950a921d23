package perfbench

import graft.meter.{Marts, MeterGen, Staging}
import graft.sources.Store
import org.apache.spark.sql.functions._

/** `meter_batch`: one full refresh per op, the dbt full-refresh analogue.
  * Generated readings land as date-chunked bronze, LAG staging reads them
  * back, and both marts are rebuilt and written. The data-bound,
  * shuffle-heavy regime. The generator is seedless by design (oracle
  * parity), so the seed is recorded but does not change the inputs. The
  * set-up warms the same code paths with one refresh of `warmMeters` meters
  * over the same intervals, which the first timed refresh overwrites. */
final class MeterBatch(ctx: Ctx, nMeters: Long, nIntervals: Long, warmMeters: Long)
    extends Workload {
  private val spark = ctx.spark
  private val bronze = ctx.root("batch_bronze")
  private val billing = ctx.root("batch_mart_billing")
  private val grid = ctx.root("batch_mart_grid")
  private val meters = MeterGen.metersDim(spark, nMeters)
  private val customers = MeterGen.customers(spark, nMeters)
  private val zones = MeterGen.gridZones(spark)
  private val tariff = MeterGen.tariffRates(spark)
  private val rows = nMeters * nIntervals

  val spans: Seq[String] = Seq("gen_bronze", "mart_billing", "mart_grid")

  private def refresh(readingMeters: Long): Unit = {
    ctx.span("gen_bronze") {
      Store.writeBronze(MeterGen.readings(spark, readingMeters, nIntervals), bronze)
    }
    val stg = Staging.stgMeterReadings(Store.readBronze(spark, bronze))
    ctx.span("mart_billing") {
      Store.writeMart(Marts.factCustomerBillingDaily(stg, meters, customers, tariff),
        billing, "billing_date")
    }
    ctx.span("mart_grid") {
      Store.writeMart(Marts.factGridLoadHourly(stg, meters, zones), grid, "load_hour")
    }
  }

  /** The consumer's read of the fresh marts: consumption and reading totals. */
  private def readMarts(): (Double, Long, Double, Long) = {
    def totals(dir: String) = spark.read.parquet(dir)
      .agg(sum(col("total_consumption_kwh")), sum(col("total_reading_count"))).head()
    val (b, g) = (totals(billing), totals(grid))
    (b.getDouble(0), b.getLong(1), g.getDouble(0), g.getLong(1))
  }

  /** Gates: every reading landed once; the summed consumption deltas equal
    * the sum of each meter's last cumulative reading (the LAG telescopes);
    * the billing and grid marts agree on consumption and reading count. */
  private def check(t: (Double, Long, Double, Long)): Unit = {
    val (billKwh, billN, gridKwh, gridN) = t
    val landed = spark.read.parquet(bronze)
    val n = landed.count()
    ctx.gate(n == rows, s"bronze holds $n readings, expected $rows")
    val lastCum = landed.groupBy(col("meter_id"))
      .agg(max(col("reading_consumption_milliwatts")).as("c"))
      .agg(sum(col("c"))).head().getLong(0)
    ctx.gate(math.abs(billKwh * 1e6 - lastCum) <= 1e-9 * lastCum + 1,
      f"billing consumption ${billKwh * 1e6}%.1f mWh != telescoped $lastCum mWh")
    ctx.gate(billN == rows && gridN == rows,
      s"mart reading counts billing=$billN grid=$gridN, expected $rows")
    ctx.gate(math.abs(billKwh - gridKwh) <= 1e-9 * billKwh,
      f"billing $billKwh%.6f kWh != grid $gridKwh%.6f kWh")
  }

  def setup(): Unit = {
    val (_, s) = Ctx.time(refresh(warmMeters))
    ctx.log(f"batch warm-up refresh: ${s * 1000}%.0f ms")
  }

  def step(): Boolean = {
    ctx.op("cycle", alternate = true) { _ =>
      val (_, cycleS) = Ctx.time(refresh(nMeters))
      val (totals, readS) = Ctx.time(readMarts())
      check(totals)
      ctx.add("cycle_s", cycleS)
      ctx.add("read_s", readS)
      cycleS
    }
    true
  }

  def verify(): Unit = ()

  def close(): Unit = ()

  def endToEnd: Seq[Figure] = {
    val cycles = ctx.samplesOf("cycle_s")
    Seq(
      Figure("rows_per_s", "1/s", rows * cycles.size / cycles.sum, cycles.size),
      Ctx.figure("commit_p50_ms", "ms", cycles.map(_ * 1000)),
      Ctx.figure("read_p50_ms", "ms", ctx.samplesOf("read_s").map(_ * 1000)))
  }

  def report: Seq[Figure] = {
    val cycles = ctx.samplesOf("cycle_s")
    Seq(
      Figure("batch_rows_per_s", "1/s", rows * cycles.size / cycles.sum, cycles.size),
      Ctx.figure("batch_cycle_p50_ms", "ms", cycles.map(_ * 1000)),
      Ctx.figure("batch_read_p50_ms", "ms", ctx.samplesOf("read_s").map(_ * 1000)))
  }
}
