package graft.meter

import graft.sources.Store
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end orchestration of the reference pipeline (SURVEY.md §3.2 "dbt
  * run" equivalent): dims + readings → date-chunked bronze → lazy staging →
  * both marts, fully refreshed to partitioned parquet. Function composition
  * is the model DAG; Catalyst is the planner dbt lacked — the staging view
  * stays lazy, so each mart build fuses bronze scan→LAG→aggregate into one
  * physical plan. The two `Store.writeMart` calls are separate actions, so
  * each runs its own window stage: the (meter_id, ts) sort happens once
  * per mart, not once for both.
  */
object Pipeline {

  final case class Paths(base: String) {
    val bronze = s"$base/bronze/raw_meter_readings"
    val billing = s"$base/marts/fact_customer_billing_daily"
    val grid = s"$base/marts/fact_grid_load_hourly"
  }

  /** Full batch run; returns the materialized marts (read back). */
  def run(spark: SparkSession, nMeters: Long, nIntervals: Long, baseDir: String)
      : (DataFrame, DataFrame) = {
    val paths = Paths(baseDir)
    val meters = MeterGen.metersDim(spark, nMeters)
    val customers = MeterGen.customers(spark, nMeters)
    val zones = MeterGen.gridZones(spark)
    val tariff = MeterGen.tariffRates(spark)

    // ingest equivalent: generate + land as the chunked bronze table
    Store.writeBronze(MeterGen.readings(spark, nMeters, nIntervals), paths.bronze)

    // staging is a view over bronze (never materialized, dbt parity)
    val stg = Staging.stgMeterReadings(Store.readBronze(spark, paths.bronze))

    Store.writeMart(
      Marts.factCustomerBillingDaily(stg, meters, customers, tariff),
      paths.billing, "billing_date")
    Store.writeMart(
      Marts.factGridLoadHourly(stg, meters, zones),
      paths.grid, "load_hour")

    (spark.read.parquet(paths.billing), spark.read.parquet(paths.grid))
  }
}
