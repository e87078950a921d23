package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming version of the hourly grid-load mart (SURVEY.md §2.8 ST7
  * extension): instead of the reference's full-refresh batch rebuild
  * (`dbt run` → CREATE TABLE AS), the mart maintains itself incrementally
  * on the delta stream — watermarked 1-hour tumbling windows, stream-static
  * broadcast joins against the meter/zone dims, append-mode emission of
  * each closed hour.
  *
  * Differences from the batch mart, dictated by streaming semantics:
  *  - `active_meter_count` is approx_count_distinct (exact distinct needs
  *    the whole window's rows held in state; HLL state is constant-size)
  *  - rows emit once per (hour, zone) when the watermark passes the window
  *    end — late readings beyond the watermark are dropped (the reference
  *    has no late-data story at all, README.md:134)
  */
object StreamingMarts {

  /** @param deltas streaming per-reading deltas ([[Ingest.streamingDeltas]]
    *               output or equivalent) with reading_timestamp, meter_id,
    *               consumption_delta_mwh, production_delta_mwh
    * @param meters static dim (meter_id, grid_zone_id)
    * @param zones  static dim (grid_zone_id, zone_name, zone_type,
    *               max_capacity_megawatts) */
  def hourlyGridLoad(
      deltas: DataFrame, meters: DataFrame, zones: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    deltas
      .withWatermark("reading_timestamp", watermark)
      .join(broadcast(meters.select(col("meter_id"), col("grid_zone_id"))), Seq("meter_id"))
      .join(broadcast(zones.select(
        col("grid_zone_id"), col("zone_name"), col("zone_type"),
        col("max_capacity_megawatts"))), Seq("grid_zone_id"))
      .groupBy(
        window(col("reading_timestamp"), "1 hour").as("load_window"),
        col("grid_zone_id"), col("zone_name"), col("zone_type"),
        col("max_capacity_megawatts"))
      .agg(
        (sum(col("consumption_delta_mwh")) / 1000000.0).as("total_consumption_kwh"),
        (sum(col("consumption_delta_mwh") - coalesce(col("production_delta_mwh"), lit(0L)))
          / 1000000.0).as("total_net_consumption_kwh"),
        approx_count_distinct(col("meter_id")).as("active_meter_count"),
        count(lit(1)).as("total_reading_count"))
      .select(
        col("load_window.start").as("load_hour"),
        col("grid_zone_id"), col("zone_name"), col("zone_type"),
        col("max_capacity_megawatts"),
        col("total_consumption_kwh"), col("total_net_consumption_kwh"),
        (col("total_net_consumption_kwh") / 1000.0).as("total_net_consumption_mwh"),
        col("active_meter_count"), col("total_reading_count"))

  /** Stream-stream pricing (SURVEY.md §2.8 ST7 extension, the only
    * stream-stream join shape with bounded state): a live reading stream
    * joined to a live per-zone tariff-update stream under event-time
    * bounds. A reading is CANDIDATE-matched to every update whose validity
    * window `[update_ts, update_ts + validity)` covers it in its zone, and
    * then priced exactly once against the LATEST such update (overlapping
    * updates — issued faster than the validity window — must not bill
    * twice): an event-time-keyed streaming argmax aggregation downstream
    * of the join (chained stateful operators; Spark propagates the
    * watermark through the join into the aggregation state). Readings with
    * no covering update are unpriceable and do not emit.
    *
    * Composition: stream-STATIC broadcast join (reading → zone via the
    * meter dim, map-side) → stream-STREAM interval join on (zone,
    * time-range) → watermarked per-reading argmax. All state is
    * watermark-bounded: join state by the range bound, aggregation state
    * by the reading watermark. Rows behind the watermarks are dropped —
    * the explicit late-data contract (the reference has none,
    * README.md:134). Emission is append-mode: a priced reading finalizes
    * when the watermark passes its event time.
    *
    * @param deltas streaming per-reading deltas with reading_timestamp,
    *               meter_id, consumption_delta_mwh
    * @param meters static dim (meter_id, grid_zone_id)
    * @param tariffUpdates stream of (grid_zone_id, update_ts, rate_per_kwh)
    * @param joinType "inner" (default: unpriceable readings do not emit)
    *                 or "left_outer" (they emit with NULL rate/charge once
    *                 the watermark proves no update can still arrive — the
    *                 ops-visibility contract for coverage gaps) */
  def pricedDeltas(
      deltas: DataFrame, meters: DataFrame, tariffUpdates: DataFrame,
      validity: String = "1 hour", readingWm: String = "1 hour",
      updateWm: String = "2 hours", joinType: String = "inner"): DataFrame =
    deltas
      .withWatermark("reading_timestamp", readingWm)
      .join(broadcast(meters.select(col("meter_id"), col("grid_zone_id"))), Seq("meter_id"))
      .join(
        tariffUpdates
          .withWatermark("update_ts", updateWm)
          .select(col("grid_zone_id").as("u_zone"), col("update_ts"),
            col("rate_per_kwh")),
        expr(s"""grid_zone_id = u_zone
                 AND reading_timestamp >= update_ts
                 AND reading_timestamp < update_ts + INTERVAL $validity"""),
        joinType)
      .groupBy(col("reading_timestamp"), col("meter_id"), col("grid_zone_id"),
        col("consumption_delta_mwh"))
      .agg(max(struct(col("update_ts"), col("rate_per_kwh"))).as("m"))
      .select(
        col("reading_timestamp"), col("meter_id"), col("grid_zone_id"),
        col("m.update_ts").as("tariff_effective_ts"),
        col("m.rate_per_kwh").as("rate_per_kwh"),
        (col("consumption_delta_mwh") / 1000000.0 * col("m.rate_per_kwh"))
          .as("consumption_charge"))

  /** Streaming twin of the daily customer billing mart
    * (`fact_customer_billing_daily.sql` / [[graft.meter.Marts.factCustomerBillingDaily]]):
    * watermarked 1-day tumbling windows over the delta stream, broadcast
    * stream-static joins against the meter/customer dims, tariff applied
    * through a stream-static join against dim_tariff_rates (same lineage as
    * the batch mart — not a hard-coded 0.28), append-mode emission of each
    * closed billing day.
    *
    * Streaming deviations (same reasons as [[hourlyGridLoad]]):
    * `meter_count` is approx_count_distinct (constant-size HLL state per
    * window instead of an exact distinct set); late readings behind the
    * watermark are dropped.
    *
    * @param deltas streaming per-reading deltas with reading_timestamp,
    *               meter_id, consumption_delta_mwh, production_delta_mwh,
    *               status
    * @param meters static dim (meter_id, customer_id)
    * @param customers static dim (customer_id, customer_name)
    * @param tariff static 1-row dim (base_rate_per_kwh) */
  def dailyBilling(
      deltas: DataFrame, meters: DataFrame, customers: DataFrame,
      tariff: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val rate = col("base_rate_per_kwh").cast("double")
    deltas
      .withWatermark("reading_timestamp", watermark)
      .join(broadcast(meters.select(col("meter_id"), col("customer_id"))), Seq("meter_id"))
      .join(broadcast(customers.select(col("customer_id"), col("customer_name"))),
        Seq("customer_id"))
      .groupBy(
        window(col("reading_timestamp"), "1 day").as("billing_window"),
        col("customer_id"), col("customer_name"))
      .agg(
        (sum(col("consumption_delta_mwh")) / 1000000.0).as("total_consumption_kwh"),
        (sum(col("production_delta_mwh")) / 1000000.0).as("total_production_kwh"),
        (sum(col("consumption_delta_mwh") - coalesce(col("production_delta_mwh"), lit(0L)))
          / 1000000.0).as("total_net_consumption_kwh"),
        approx_count_distinct(col("meter_id")).as("meter_count"),
        count(lit(1)).as("total_reading_count"),
        sum(when(col("status") === "V", 1L).otherwise(0L)).as("valid_reading_count"),
        sum(when(col("status") === "E", 1L).otherwise(0L)).as("estimated_reading_count"),
        sum(when(col("status") === "R", 1L).otherwise(0L)).as("error_reading_count"),
        max(col("production_delta_mwh").isNotNull.cast("int")).cast("boolean").as("has_solar"))
      // stream-static equi-join on a constant key (a supported inner join;
      // plain crossJoin is not allowed on streams) brings in the 1-row tariff
      .withColumn("one", lit(1))
      .join(broadcast(tariff.select(col("base_rate_per_kwh"), lit(1).as("one"))), Seq("one"))
      .select(
        to_date(col("billing_window.start")).as("billing_date"),
        col("customer_id"), col("customer_name"),
        col("total_consumption_kwh"), col("total_production_kwh"),
        col("total_net_consumption_kwh"),
        (col("total_consumption_kwh") * rate).as("consumption_charge"),
        (col("total_production_kwh") * rate).as("production_credit"),
        (col("total_net_consumption_kwh") * rate).as("net_charge"),
        col("meter_count"), col("total_reading_count"), col("valid_reading_count"),
        col("estimated_reading_count"), col("error_reading_count"), col("has_solar"),
        when(col("total_reading_count") > 0,
          col("valid_reading_count").cast("double")
            / col("total_reading_count").cast("double") * 100)
          .otherwise(0.0).as("data_quality_pct"))
  }

  /** Streaming twin of the batch `w15_hopping_windows` query
    * ([[graft.ops.TimeSeriesTk]]): 1-hour windows advancing every 15
    * minutes over a live event stream. The sliding `window()` is the SAME
    * TimeWindow Expand as batch — each row enters size/slide = 4 open
    * windows map-side — so streamed closed-window totals are bit-equal to
    * the batch query over the same rows (exact BIGINT cent sums; spec
    * asserts equality). State is bounded: open windows per watermark
    * horizon ≤ (watermark + size) / slide aggregates, each O(1) — a
    * 100 TB/day stream holds a handful of partial sums, never rows.
    * Append mode emits a window once its end passes the watermark; late
    * rows beyond it are dropped.
    *
    * @param events streaming frame with `ts` (event-time TIMESTAMP) and
    *               `cents` (exact BIGINT value) */
  def hoppingEventTotals(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("n_events"), col("sum_cents"))

  /** The production loop CLOSED ON DISK: exactly-once bronze landing
    * ([[Ingest.idempotentAppend]]) plus PARTITION-SCOPED gold refresh in
    * the same micro-batch — after each batch lands, only the billing_date
    * partitions that batch touched are rebuilt from the accumulated
    * bronze and dynamically overwritten
    * ([[graft.sources.Store.refreshMartPartitions]]). Staging runs over
    * the full bronze history so cross-day LAG deltas stay exact; the mart
    * aggregation itself only ever scans the touched dates' staging slice.
    * This is the streaming twin of `meter_billing_daily_incremental` —
    * the windowed [[dailyBilling]] keeps closed-window state in the
    * engine; this variant keeps the MART ITSELF current on disk, the
    * shape a 100 TB daily-gold pipeline runs continuously.
    *
    * Replays pay only for what they land. A micro-batch rebuilds the mart
    * iff it landed at least one new row or an earlier attempt left a
    * rebuild unfinished; an exact re-delivery (at-least-once upstream)
    * writes no bronze row and touches no mart file — the cost of one
    * `ON CONFLICT DO NOTHING` insert attempt in the reference. "Left
    * unfinished" is recorded by a crash-intent marker,
    * `<checkpointDir>/_mart_pending`: before the batch's first bronze
    * file is written it durably holds the batch's touched dates plus any
    * dates a surviving marker still holds (temp file + rename), and it
    * is deleted only after the mart write commits. A crash between
    * landing and rebuild is therefore healed by the re-run of that batch:
    * the re-run lands nothing but finds the marker, and rebuilds the
    * batch's dates ∪ the marker's dates by the usual rebuild-set rule. */
  def startIngestWithMartRefresh(
      jsonLines: DataFrame, meters: DataFrame, customers: DataFrame,
      tariff: DataFrame, bronzeDir: String, martDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      // per-batch (landMs, rebuildMs) phase attribution hook — the
      // latency report uses it to tell which half of the gold loop bounds
      // the sustainable rate (bronze landing vs mart rebuild)
      phaseSink: (Long, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val marker = new org.apache.hadoop.fs.Path(checkpointDir, "_mart_pending")
    Ingest.parseAndValidate(jsonLines).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val spark = df.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val t0 = System.nanoTime()
        // dates an earlier attempt of this query landed without finishing
        // their rebuild (empty on the normal path)
        val pending = readMarker(marker, conf)
        // the landing persists the batch internally (one wire parse),
        // lists bronze's partitions once before writing (the high-water
        // mark below) and reports which dates actually received rows. An
        // empty micro-batch (sources ahead of their data emit one: the
        // rate source's batch 0, a file source on an empty dir) lands
        // nothing, so no partition is stale — and reading the
        // not-yet-created bronze dir would die on schema inference
        val landing = Ingest.idempotentAppend(df, bronzeDir,
          touched => writeMarker(marker, conf, (touched ++ pending).distinct.sorted))
        val t1 = System.nanoTime()
        if (landing.landed.nonEmpty || pending.nonEmpty) {
          val dates = (landing.touched ++ pending).distinct.sorted
          // REBUILD SET: in-order batches (every date ≥ the pre-landing
          // high-water mark) stale exactly their dates — any successor
          // whose LAG delta they change is either in the batch itself or
          // doesn't exist yet. A batch carrying LATE dates additionally
          // stales each late row's SUCCESSOR day, derived from the data
          // (lead over the batch meters' bronze tail,
          // MeterPipeline.invalidatedDates) — the same closure the batch
          // repair path uses, so replay/backfill through the stream heals
          // day+N partitions a constant touched-only (or touched+1) rule
          // would leave stale.
          val maxDateBefore =
            landing.before.reduceOption((a: String, b: String) => if (a >= b) a else b)
          val rebuildDates =
            if (maxDateBefore.forall(dates.min >= _)) dates
            else (dates ++ graft.meter.MeterPipeline
              .invalidatedDates(spark, spark.read.parquet(bronzeDir), df)
              .map(_.toString)).distinct.sorted
          val sliceInput = boundedStagingSlice(spark, bronzeDir, rebuildDates,
            (landing.before ++ landing.landed).distinct)
          graft.sources.Store.refreshMartPartitions(
            graft.meter.Marts.factCustomerBillingDaily(
              sliceInput, meters, customers, tariff),
            martDir, "billing_date")
        }
        marker.getFileSystem(conf).delete(marker, false)
        phaseSink((t1 - t0) / 1000000L, (System.nanoTime() - t1) / 1000000L)
      }
      .start()
  }

  /** The dates a surviving crash-intent marker holds, one per line
    * (empty when there is no marker). */
  private def readMarker(marker: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val fs = marker.getFileSystem(conf)
    if (!fs.exists(marker)) Nil
    else {
      val in = fs.open(marker)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Atomically replaces the marker: the dates go to a synced temp file
    * that is then renamed over the marker, so a reader sees the old or
    * the new date set, never a torn one. */
  private def writeMarker(marker: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration, dates: Seq[String]): Unit = {
    import org.apache.hadoop.fs.{CreateFlag, FileContext, Options}
    val fc = FileContext.getFileContext(marker.toUri, conf)
    val tmp = new org.apache.hadoop.fs.Path(marker.getParent, s".${marker.getName}.tmp")
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try {
      out.write(dates.mkString("", "\n", "\n").getBytes("UTF-8"))
      out.hsync()
    } finally out.close()
    fc.rename(tmp, marker, Options.Rename.OVERWRITE)
  }

  /** The rebuild's staging input, read from bronze with GAP-ROBUST
    * partition bounds. Base slice = rebuild dates ∪ each's previous day
    * (a touched row's LAG predecessor is usually one calendar day back —
    * static literal partition filters, so the rebuild reads two date
    * directories per touched day however deep the history grows, and
    * never re-scans the batch). The dense-cadence assumption is then
    * CHECKED, not trusted: meters present on a rebuild date but absent on
    * its previous day (a multi-day silence, a dead-lettered shard — or a
    * genuinely new meter) get their true predecessor DATE probed from
    * bronze (max reading_date below the suspect date, column-pruned to
    * two columns, scanned only for the suspect meters — AQE's
    * empty-relation propagation collapses the probe when no suspects
    * exist), and the slice widens to include it, so the LAG delta the
    * rebuild computes equals the full-history staging's. One widening
    * pass is exact: every rebuild-date first-reading's predecessor
    * partition is in the widened slice, and rows at non-rebuild dates
    * only ever FEED LAG — they are filtered out before aggregation.
    * (The production-scale alternative to the probe's cold-history scan
    * is a per-meter last-seen silver index; at this engine's bronze
    * sizes the two-column pruned scan is cheaper than maintaining one.) */
  private[graft] def boundedStagingSlice(spark: org.apache.spark.sql.SparkSession,
      bronzeDir: String, rebuildDates: Seq[String],
      bronzeDates: Seq[String]): DataFrame = {
    import spark.implicits._
    def bronzeAt(dates: Seq[String]) = spark.read.parquet(bronzeDir)
      .filter(col("reading_date").isin(dates: _*))
    val prior = rebuildDates.map(d =>
      java.time.LocalDate.parse(d).minusDays(1).toString)
    val base = (rebuildDates ++ prior).distinct
    // the whole gap machinery (presence distinct, suspect anti-join,
    // predecessor probe — three shuffling jobs per micro-batch) is
    // PRECONDITIONED on one driver-side directory listing: a predecessor
    // the base slice misses must live at a bronze date below the rebuild
    // ceiling and outside the base, so when no such partition exists —
    // the steady state of a ≤ 2-day-deep loop — the slice is provably
    // complete and the hot path pays nothing. `bronzeDates` is bronze's
    // partition list, which the caller already holds
    val outsideBase = bronzeDates
      .filter(d => d < rebuildDates.max && !base.contains(d))
    val predDates = if (outsideBase.isEmpty) Nil else {
      val present = bronzeAt(base)
        .select(col("meter_id"), col("reading_date").cast("string").as("d"))
        .distinct()
      val suspects = present.filter(col("d").isin(rebuildDates: _*))
        .withColumn("prev_d",
          date_format(date_sub(col("d").cast("date"), 1), "yyyy-MM-dd"))
        .join(present.select(col("meter_id"), col("d").as("prev_d")),
          Seq("meter_id", "prev_d"), "left_anti")
        .select(col("meter_id"), col("d"))
      spark.read.parquet(bronzeDir)
        .filter(col("reading_date") < lit(rebuildDates.max).cast("date"))
        .select(col("meter_id"), col("reading_date"))
        .join(suspects, Seq("meter_id"))
        .filter(col("reading_date") < col("d").cast("date"))
        .groupBy(col("meter_id"), col("d"))
        .agg(max(col("reading_date")).cast("string").as("pred_date"))
        .select(col("pred_date")).distinct().as[String].collect().toSeq
    }
    val needed = (base ++ predDates).distinct
    graft.meter.Staging.stgMeterReadings(
      bronzeAt(needed).select(
        col("reading_timestamp"), col("meter_id"),
        col("reading_consumption_milliwatts"),
        col("reading_production_milliwatts"), col("status")))
      .filter(to_date(col("reading_timestamp"))
        .cast("string").isin(rebuildDates: _*))
  }
}
