package graft.ops

import graft.GraftQuery
import graft.GraftQuery.q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window/sequence extensions beyond the reference's W1/W2 (SURVEY.md §2.5
  * "not present" list, exposed as engine capabilities): ranking functions,
  * sliding frames, and an as-of join.
  *
  * The as-of join is implemented the scale-correct way: tag both sides,
  * union, and take `last(…, ignoreNulls)` over a single
  * (key, time)-ordered window — one sort, no join, no per-row probing.
  * That formulation is what survives 100 TB (the naive correlated-subquery
  * / nested-loop form is quadratic); the oracle SQL uses the identical
  * window formulation in DuckDB.
  */
object TimeSeriesExt {

  /** Seasonal-baseline deviation core shared by `w13_seasonal_baseline` and
    * its planted-fixture spec: per-(meter_id, slot) mean of `delta`,
    * equi-joined back, rows outside the [0.5, 1.5] band flagged. E12 guard:
    * a zero baseline makes the ratio undefined → the row is excluded (the
    * oracle's `WHERE baseline_avg <> 0` twin excludes identically; without
    * it Spark's x/0.0 → NULL drops while DuckDB's ±inf flags). */
  def seasonalDeviation(known: DataFrame): DataFrame = {
    val baseline = known.groupBy(col("meter_id"), col("slot"))
      .agg((sum(col("delta")) * 1.0 / count(lit(1))).as("baseline_avg"))
    val ratio = col("delta") / col("baseline_avg")
    known.join(baseline, Seq("meter_id", "slot"))
      .filter(col("baseline_avg") =!= 0 && (ratio > 1.5 || ratio < 0.5))
      .select(col("meter_id"), col("reading_timestamp"),
        col("delta").cast("long").as("delta"),
        col("baseline_avg"), ratio.as("dev_ratio"))
  }
  import Tables.cents

  val all: Seq[GraftQuery] = Seq(
    // ---- ranking family with deterministic tie-breaks
    q("w3_ranking",
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn,
        |  rank()       OVER (PARTITION BY user_id ORDER BY value DESC) AS rnk,
        |  dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS drnk,
        |  ntile(4)     OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS quartile
        |FROM events""".stripMargin) { (s, d) =>
      val byVal = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      val byValOnly = Window.partitionBy(col("user_id")).orderBy(col("value").desc)
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        row_number().over(byVal).as("rn"),
        rank().over(byValOnly).as("rnk"),
        dense_rank().over(byValOnly).as("drnk"),
        ntile(4).over(byVal).as("quartile"))
    },

    // ---- sliding ROWS frame: 4-reading moving sum/avg (exact via cents)
    q("w4_moving_window",
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)/100.0 AS moving_sum,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)/100.0
        |    / COUNT(*) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_avg
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      val msum = sum(cents(col("value"))).over(w) / 100.0
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        msum.as("moving_sum"),
        (msum / count(lit(1)).over(w)).as("moving_avg"))
    },

    // ---- RANGE frame: events in the trailing hour per user (value-range
    // sliding window — peers included by RANGE semantics in both engines;
    // Spark ranges over the ns BIGINT, DuckDB over the interval)
    q("w6_range_trailing_hour",
      """SELECT event_id, user_id,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT)/100.0 AS value_last_hour
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
        .rangeBetween(-3600L * 1000000000L, Window.currentRow)
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_last_hour"),
        (sum(cents(col("value"))).over(w) / 100.0).as("value_last_hour"))
    },

    // ---- first/nth value window functions
    q("w7_first_nth_value",
      """SELECT event_id, user_id,
        |  first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_event,
        |  nth_value(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_event
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        first(col("event_id")).over(w).as("first_event"),
        nth_value(col("event_id"), 2).over(w).as("second_event"))
    },

    // ---- windowed anomaly score: z-score of each reading against its own
    // trailing 16 readings. Variance is computed from exact integer-cents
    // sums (Σx, Σx²) with the identical expression shape in both engines,
    // so even the floating-point tail is bit-equal. The monitoring query a
    // meter-ops team runs continuously; per-meter window = the same
    // (key, time) sort every other window op shares.
    q("w9_zscore_anomaly",
      """WITH c AS (
        |  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |win AS (
        |  SELECT event_id, user_id, cents,
        |    CAST(SUM(cents) OVER w AS BIGINT) AS s1,
        |    CAST(SUM(cents * cents) OVER w AS BIGINT) AS s2,
        |    COUNT(*) OVER w AS n
        |  FROM c
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CASE WHEN n > 1 AND (s2 - s1 * 1.0 * s1 / n) / n > 0
        |       THEN (cents - s1 * 1.0 / n) / sqrt((s2 - s1 * 1.0 * s1 / n) / n)
        |       ELSE 0.0 END AS zscore,
        |  CASE WHEN n > 1 AND (s2 - s1 * 1.0 * s1 / n) / n > 0
        |       THEN abs((cents - s1 * 1.0 / n) / sqrt((s2 - s1 * 1.0 * s1 / n) / n)) > 2.5
        |       ELSE FALSE END AS is_anomaly
        |FROM win""".stripMargin) { (s, d) =>
      import Tables.cents
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
        .rowsBetween(-15, Window.currentRow)
      val c = cents(col("value"))
      val s1 = sum(c).over(w)
      val s2 = sum(c * c).over(w)
      val n = count(lit(1)).over(w)
      val variance = (s2 - s1 * 1.0 * s1 / n) / n
      val z = (c - s1 * 1.0 / n) / sqrt(variance)
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        when(n > 1 && variance > 0, z).otherwise(0.0).as("zscore"),
        when(n > 1 && variance > 0, abs(z) > 2.5).otherwise(false).as("is_anomaly"))
    },

    // ---- grouping() indicator with ROLLUP (distinguishes subtotal rows
    // from genuine NULL group keys)
    q("a_rollup_grouping_id",
      """SELECT event_type, GROUPING(event_type) AS is_total, COUNT(*) AS n
        |FROM events GROUP BY ROLLUP (event_type)""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .rollup(col("event_type"))
        .agg(grouping(col("event_type")).cast("long").as("is_total"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("is_total"), col("n"))
    },

    // ---- explicit non-hierarchical GROUPING SETS (neither rollup nor
    // cube expresses {(event_type), (bucket)} — two independent summary
    // grains in ONE scan + one expand; the alternative is two aggregates
    // and a union, i.e. two scans at 100 TB)
    q("a_grouping_sets",
      """SELECT event_type, user_id % 10 AS bucket, COUNT(*) AS n,
        |  GROUPING(event_type) AS g_type
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (user_id % 10))""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("bucket", col("user_id") % 10)
        .groupingSets(Seq(Seq(col("event_type")), Seq(col("bucket"))),
          col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          grouping(col("event_type")).cast("long").as("g_type"))
        .select(col("event_type"), col("bucket"), col("n"), col("g_type"))
    },

    // ---- as-of join: for each purchase, the most recent prior-or-equal
    // click of the same user (tag → union → ignore-nulls last over one
    // time-ordered window; no join)
    q("asof_purchase_last_click",
      """WITH tagged AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CASE WHEN event_type = 'click' THEN event_id END AS click_id
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |carried AS (
        |  SELECT event_id, user_id, event_type,
        |    last_value(click_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
        |  FROM tagged)
        |SELECT event_id, user_id, asof_click_id
        |FROM carried WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("click_id", when(col("event_type") === "click", col("event_id")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          last(col("click_id"), ignoreNulls = true).over(w).as("asof_click_id"))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("asof_click_id"))
    },

    // ---- FORWARD as-of with tolerance (pandas merge_asof
    // direction='forward' parity): for each purchase, the next error of
    // the same user, kept only when it lands within 1 h. Same
    // single-window shape as the backward variant — a conditional min
    // over the FOLLOWING frame, one shuffle on user_id, no join node at
    // all. Arithmetic is exact BIGINT MICROseconds on both engines:
    // DuckDB floor-truncates the parquet ns timestamps to µs on read, and
    // `ts_ns div 1000` is the same floor — so values AND window ordering
    // agree bit-for-bit (µs ties broken by event_id identically).
    q("asof_next_error_tolerance",
      """WITH tagged AS (
        |  SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_type
        |  FROM events WHERE event_type IN ('error', 'purchase')),
        |carried AS (
        |  SELECT event_id, user_id, ts_us, event_type,
        |    min(CASE WHEN event_type = 'error' THEN ts_us END) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_error_us
        |  FROM tagged)
        |SELECT event_id, user_id,
        |  CASE WHEN next_error_us - ts_us <= 3600000000 THEN next_error_us END AS next_error_us,
        |  CASE WHEN next_error_us - ts_us <= 3600000000 THEN next_error_us - ts_us END AS gap_us
        |FROM carried WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      val TolUs = 3600000000L
      Tables.events(s, d)
        .filter(col("event_type").isin("error", "purchase"))
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .withColumn("next_error_us",
          min(when(col("event_type") === "error", col("ts_us"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          when(col("next_error_us") - col("ts_us") <= TolUs, col("next_error_us"))
            .as("next_error_us"),
          when(col("next_error_us") - col("ts_us") <= TolUs,
            col("next_error_us") - col("ts_us")).as("gap_us"))
    },

    // ---- custom-operator path: per-key top-k through graft.plans.TopKPerKey
    // (LogicalPlan + Strategy + bounded-heap physical operator). The oracle
    // states the semantics as the standard window formulation — identical
    // results, radically different physical plan (map-side k-row pruning
    // before the exchange instead of a full shuffle + sort).
    q("w5_topk_per_key_native",
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events) t WHERE rn <= 3""".stripMargin) { (s, d) =>
      graft.plans.TopKPerKey(
        Tables.events(s, d).select(col("event_id"), col("user_id"), col("value")),
        keys = Seq("user_id"),
        orderBy = Seq(("value", true), ("event_id", false)),
        k = 3)
    },

    // ---- sessionization: 30-min-gap sessions per user via the portable
    // lag + cumulative-sum formulation (new session when the gap from the
    // previous event exceeds the threshold; session id = running count of
    // session starts). Same single (user, time)-ordered window the LAG
    // staging uses — one sort, no state, batch-equivalent of streaming
    // session windows.
    q("sessionize_events",
      """WITH gaps AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |              OR CAST(epoch_ms(ts) AS BIGINT)
        |                 - CAST(epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS BIGINT)
        |                 > 1800000
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM events),
        |sess AS (
        |  SELECT event_id, user_id,
        |    CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM gaps)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  CAST(MIN(event_id) AS BIGINT) AS first_event_id
        |FROM sess GROUP BY user_id, session_seq""".stripMargin) { (s, d) =>
      val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
      val prevNs = lag(col("ts_ns"), 1).over(byTime)
      // 30 min in ns; ts_ns comparison ≡ the oracle's epoch_ms comparison
      // (no same-millisecond adjacent events per user in this corpus)
      val isStart = when(prevNs.isNull || col("ts_ns") - prevNs > 1800000L * 1000000L, 1)
        .otherwise(0)
      Tables.events(s, d)
        .withColumn("is_start", isStart)
        .withColumn("session_seq",
          sum(col("is_start")).over(
            byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event_id"))
    },

    // ---- CUBE grouping sets (with ROLLUP's sibling, §2.4 extension)
    q("a_cube_type_bucket",
      """SELECT event_type, user_id % 4 AS bucket, COUNT(*) AS n
        |FROM events GROUP BY CUBE (event_type, user_id % 4)""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .cube(col("event_type"), (col("user_id") % 4).as("bucket"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- exact percentiles over integer cents (interpolated median/p90;
    // identical interpolation arithmetic in Spark percentile and DuckDB
    // quantile_cont)
    q("a_median_p90",
      """SELECT event_type,
        |  quantile_cont(CAST(round(value*100) AS BIGINT), 0.5)/100.0 AS median_value,
        |  quantile_cont(CAST(round(value*100) AS BIGINT), 0.9)/100.0 AS p90_value
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          (expr("percentile(CAST(round(value*100) AS BIGINT), 0.5)") / 100.0).as("median_value"),
          (expr("percentile(CAST(round(value*100) AS BIGINT), 0.9)") / 100.0).as("p90_value"))
    },

    // ---- at-scale percentile variant: approx_percentile (GK-style
    // mergeable sketch, single pass, constant memory) next to the exact
    // a_median_p90 twin. The sketch value is engine-specific, so the
    // hashed output is (exact median, bounded-assertion verdict): Spark
    // genuinely checks the approx median lands inside the exact
    // [p45, p55] value window — accuracy 10000 guarantees rank error
    // ≤ n/10000 = 0.01%, far inside the 5%-rank tolerance, at ANY n —
    // while the oracle asserts TRUE. Same pattern as
    // a7_approx_count_distinct.
    q("a_median_p90_approx",
      """SELECT event_type,
        |  quantile_cont(CAST(round(value*100) AS BIGINT), 0.5)/100.0 AS exact_median,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(CAST(round(value*100) AS BIGINT), 0.5, 10000)")
            .as("approx_c"),
          expr("percentile(CAST(round(value*100) AS BIGINT), 0.45)").as("lo_c"),
          (expr("percentile(CAST(round(value*100) AS BIGINT), 0.5)") / 100.0)
            .as("exact_median"),
          expr("percentile(CAST(round(value*100) AS BIGINT), 0.55)").as("hi_c"))
        .select(col("event_type"), col("exact_median"),
          (col("approx_c") >= col("lo_c") && col("approx_c") <= col("hi_c"))
            .as("within_bound"))
    },

    // ---- DELTA-OF-DELTA compressibility audit — the storage engine's
    // question (TimescaleDB compresses numeric channels as second
    // differences after segmentby/orderby clustering, Gorilla/Facebook's
    // scheme; reference: compression on the readings hypertable): per
    // user-ordered stream, dod = Δ²(cents) classified into the encoder's
    // byte-width buckets (zero / 1-byte / 2-byte / wider). The bucket
    // histogram IS the achievable-compression estimate, and Σ|dod| is the
    // exact residual mass. Shape: two LAG taps per user_id (keyed
    // windows, event_id ordering — deterministic in both engines where
    // raw ns timestamps would not be), one map-side-combinable bucket
    // agg. At 100 TB this runs per segment as written — the window key is
    // the segmentby column.
    q("a_dod_compression",
      """WITH c AS (
        |  SELECT user_id, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
        |d1 AS (
        |  SELECT user_id, event_id, cents,
        |    cents - lag(cents) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS d FROM c),
        |d2 AS (
        |  SELECT user_id, event_id,
        |    d - lag(d) OVER (PARTITION BY user_id ORDER BY event_id) AS dod
        |  FROM d1 WHERE d IS NOT NULL),
        |b AS (
        |  SELECT CASE WHEN dod = 0 THEN 'zero'
        |              WHEN abs(dod) <= 127 THEN '1byte'
        |              WHEN abs(dod) <= 32767 THEN '2byte'
        |              ELSE 'wider' END AS bucket,
        |    dod FROM d2 WHERE dod IS NOT NULL)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(abs(dod)) AS BIGINT) AS abs_mass
        |FROM b GROUP BY 1""".stripMargin) { (s, d) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          Tables.cents(col("value")).as("cents"))
        .withColumn("d", col("cents") - lag(col("cents"), 1).over(byUser))
        .filter(col("d").isNotNull)
        .withColumn("dod", col("d") - lag(col("d"), 1).over(byUser))
        .filter(col("dod").isNotNull)
        .select(
          when(col("dod") === 0, "zero")
            .when(abs(col("dod")) <= 127, "1byte")
            .when(abs(col("dod")) <= 32767, "2byte")
            .otherwise("wider").as("bucket"),
          col("dod"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(abs(col("dod"))).as("abs_mass"))
    },

    // ---- skew pattern: two-stage salted aggregation — stage 1 fans each
    // hot group key across 16 salt buckets (bounded per-task state even if
    // one key dominates), stage 2 merges partials. Same result as the
    // direct groupBy (exact integer sums), which is what the oracle runs.
    // At 100 TB this is the manual fallback where AQE skew handling can't
    // apply (aggregations, as opposed to joins).
    q("a_salted_skew_agg",
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0 AS total_value
        |FROM events GROUP BY event_type""".stripMargin) { (s, d) =>
      val stage1 = Tables.events(s, d)
        .groupBy(col("event_type"), (col("event_id") % 16).as("salt"))
        .agg(count(lit(1)).as("pn"), sum(cents(col("value"))).as("pcents"))
      stage1
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"), (sum(col("pcents")) / 100.0).as("total_value"))
    },

    // ---- salted skew JOIN — the join-side twin of a_salted_skew_agg.
    // A synthetic hot key (~30% of events collapse onto skew_key 0) would
    // put one-third of the fact on a single shuffle task in a plain
    // key-partitioned join. The salted plan replicates the SMALL dim side
    // SALT_N ways (explode on the salt range — bounded, dim is tiny) and
    // routes each fact row to one deterministic salt bucket, so the join
    // key becomes (skew_key, salt) and the hot key spreads over SALT_N
    // tasks. Results are salt-invariant — the oracle states the plain
    // join. (AQE skew-join handles this adaptively; the manual salt is
    // the planner-independent form that also works inside streaming or
    // bucketed plans where AQE cannot re-plan.)
    q("j_salted_skew_join",
      """WITH fact AS (
        |  SELECT CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS skew_key,
        |    event_id, CAST(round(value*100) AS BIGINT) AS v_c
        |  FROM events),
        |dim AS (
        |  SELECT skew_key, CAST(MIN(event_id) AS BIGINT) AS first_event_id
        |  FROM fact GROUP BY skew_key)
        |SELECT f.skew_key, COUNT(*) AS n_events,
        |  CAST(SUM(f.v_c) AS BIGINT)/100.0 AS total_value,
        |  CAST(MIN(d.first_event_id) AS BIGINT) AS first_event_id
        |FROM fact f JOIN dim d ON f.skew_key = d.skew_key
        |GROUP BY f.skew_key""".stripMargin) { (s, d) =>
      val SaltN = 8
      val fact = Tables.events(s, d)
        .select(
          when(col("user_id") % 10 < 3, 0L).otherwise(col("user_id")).as("skew_key"),
          col("event_id"), cents(col("value")).as("v_c"))
      val dim = fact.groupBy(col("skew_key"))
        .agg(min(col("event_id")).as("first_event_id"))
      val dimSalted = dim.withColumn("salt",
        explode(array((0 until SaltN).map(lit): _*)))
      val factSalted = fact.withColumn("salt", pmod(col("event_id"), lit(SaltN)).cast("int"))
      factSalted
        .join(dimSalted, Seq("skew_key", "salt"))
        .groupBy(col("skew_key"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("v_c")) / 100.0).as("total_value"),
          min(col("first_event_id")).as("first_event_id"))
    },

    // ---- heavy hitters over a high-cardinality skewed key via the
    // Misra–Gries sketch (custom TypedImperativeAggregate, O(k) state per
    // partial) + one exact re-count of the ≤ k−1 candidates. The sketch
    // pass holds 255 counters per partition whatever the key cardinality;
    // the second pass broadcasts the candidate array and exact-counts only
    // matching rows — so the full key space is NEVER hash-aggregated, the
    // shape that survives a hot 100 TB column with billions of distinct
    // keys. Guarantee (MisraGries scaladoc): candidates ⊇ every key above
    // n/256, and the output threshold is 1% > 1/256 — so the two-pass
    // result is EXACTLY the brute-force answer the oracle states. Skew is
    // synthesized as in j_salted_skew_join: ~30% of events collapse onto
    // two hot keys, the rest stay unique per event.
    q("a_heavy_hitters_sketch",
      """WITH f AS (
        |  SELECT CASE WHEN user_id % 10 < 3 THEN 'hot_' || CAST(user_id % 2 AS VARCHAR)
        |              ELSE 'u' || CAST(event_id AS VARCHAR) END AS skew_key
        |  FROM events),
        |t AS (SELECT COUNT(*) AS n FROM f)
        |SELECT skew_key, CAST(COUNT(*) AS BIGINT) AS freq
        |FROM f, t GROUP BY skew_key, n HAVING COUNT(*)*100 >= n""".stripMargin) { (s, d) =>
      val f = Tables.events(s, d).select(
        when(col("user_id") % 10 < 3,
          concat(lit("hot_"), (col("user_id") % 2).cast("string")))
          .otherwise(concat(lit("u"), col("event_id").cast("string")))
          .as("skew_key"))
      val sketch = f.agg(
        graft.functions.MisraGries(col("skew_key"), 256).as("cands"),
        count(lit(1)).as("n"))
      f.crossJoin(broadcast(sketch))
        .filter(array_contains(col("cands"), col("skew_key")))
        .groupBy(col("skew_key"), col("n"))
        .agg(count(lit(1)).as("freq"))
        .filter(col("freq") * 100 >= col("n"))
        .select(col("skew_key"), col("freq"))
    },

    // ---- MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    // Spark 4 built-ins): per-day sketches materialize once, then ANY
    // slice re-aggregates by sketch UNION without rescanning rows — the
    // warehouse pattern for incremental/rollup-able distinct counts (a
    // plain COUNT(DISTINCT) per slice rescans the fact table per
    // question; sketches make distincts additive like sums). DataSketches
    // binaries have no DuckDB twin, so the hashed output is the exact
    // distinct plus a bounded-assertion verdict per slice: Spark checks
    // |estimate − exact| ≤ 5%·exact (3σ of lgK=12's rsd ≈ 1.6%) on each
    // per-day sketch AND on the union — the union's exact comes from one
    // extra global agg that exists only to ground the bound — while the
    // oracle asserts TRUE. A sketch/union regression flips the verdict
    // and fails the hash.
    q("a_sketch_union_distinct",
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT CAST(NULL AS DATE) AS day,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_bound
        |FROM events""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val perDay = ev
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val globalExact = ev.agg(countDistinct(col("user_id")).as("exact_users"))
      val total = perDay
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .crossJoin(broadcast(globalExact)) // 1-row × 1-row scalar-subquery idiom
        .select(lit(null).cast("date").as("day"), col("exact_users"),
          (abs(col("est") - col("exact_users")) * 100
            <= col("exact_users") * 5).as("within_bound"))
      perDay
        .select(col("day"), col("exact_users"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact_users")) * 100
            <= col("exact_users") * 5).as("within_bound"))
        .unionByName(total)
    },

    // ---- COUNT-MIN sketch (Cormode & Muthukrishnan, J.Alg 2005): the
    // classic mergeable FREQUENCY sketch, completing the sketch family
    // (Misra-Gries candidates, HLL distincts, t-digest quantiles). d=4
    // hash rows × w=64 buckets built in ONE map-side-combinable aggregate
    // over a 4× narrow explode — the sketch is 256 rows total, mergeable
    // by bucket-wise addition across any partitioning/time-slicing, which
    // is the warehouse point: frequencies become additive like sums. The
    // estimate (min over the 4 rows' buckets) is probed here for the
    // exact top-10 keys and carries CMS's one-sided guarantee
    // cms_n ≥ exact_n, spec-asserted; hash = the deterministic
    // md5-prefix60 both engines share, so estimates are bit-identical.
    q("a_countmin_sketch",
      """WITH ev AS (SELECT user_id FROM events),
        |cells AS (
        |  SELECT j.j AS j,
        |    CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || '-' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
        |  FROM ev, (SELECT unnest(generate_series(0, 3)) AS j) j),
        |tab AS (SELECT j, b, CAST(COUNT(*) AS BIGINT) AS n FROM cells GROUP BY 1, 2),
        |exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n FROM ev GROUP BY 1),
        |top AS (SELECT user_id, exact_n FROM exact ORDER BY exact_n DESC, user_id LIMIT 10),
        |probes AS (
        |  SELECT t.user_id, t.exact_n, j.j AS j,
        |    CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || '-' || CAST(t.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b
        |  FROM top t, (SELECT unnest(generate_series(0, 3)) AS j) j)
        |SELECT p.user_id, p.exact_n, CAST(MIN(tb.n) AS BIGINT) AS cms_n
        |FROM probes p JOIN tab tb ON p.j = tb.j AND p.b = tb.b
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      def bucket(j: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        graft.functions.Md5Prefix64(
          concat(j.cast("string"), lit("-"), key.cast("string"))) % 64
      val ev = Tables.events(s, d).select(col("user_id"))
      val tab = ev
        .select(col("user_id"), explode(expr("sequence(0, 3)")).as("j"))
        .select(col("j"), bucket(col("j"), col("user_id")).as("b"))
        .groupBy(col("j"), col("b")).agg(count(lit(1)).as("n"))
      val top = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(10)
      top
        .select(col("user_id"), col("exact_n"), explode(expr("sequence(0, 3)")).as("j"))
        .select(col("user_id"), col("exact_n"), col("j"),
          bucket(col("j"), col("user_id")).as("b"))
        .join(broadcast(tab), Seq("j", "b"))
        .groupBy(col("user_id"), col("exact_n"))
        .agg(min(col("n")).as("cms_n"))
    },

    // ---- correlated scalar subquery (SQL entry point; decorrelated by
    // Catalyst into an aggregate + join)
    q("subquery_scalar_latest_order",
      """SELECT c_custkey, c_name,
        |  (SELECT CAST(max(o_orderdate) AS DATE) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS latest_order_date
        |FROM customer c""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c_custkey, c_name,
          |  (SELECT CAST(max(o_orderdate) AS DATE) FROM orders_v o
          |   WHERE o.o_custkey = c.c_custkey) AS latest_order_date
          |FROM customer_v c""".stripMargin)
    },

    // ---- string-function breadth (E5 family beyond concat/lpad)
    q("e5b_string_sampler",
      """SELECT doc_id,
        |  upper(substr(text, 1, 12)) AS head_uc,
        |  reverse(substr(text, 1, 8)) AS head_rev,
        |  replace(substr(text, 1, 20), ' ', '_') AS head_snake,
        |  trim(substr(text, 1, 10)) AS head_trim,
        |  len(text) - len(replace(text, 'a', '')) AS n_a,
        |  strpos(text, 'data') AS first_data_pos
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        upper(substring(col("text"), 1, 12)).as("head_uc"),
        reverse(substring(col("text"), 1, 8)).as("head_rev"),
        regexp_replace(substring(col("text"), 1, 20), " ", "_").as("head_snake"),
        trim(substring(col("text"), 1, 10)).as("head_trim"),
        (length(col("text")) - length(regexp_replace(col("text"), "a", ""))).as("n_a"),
        instr(col("text"), "data").as("first_data_pos"))
    },

    // ---- date-part extraction breadth (E1 family; parts with identical
    // cross-engine semantics — dayofweek numbering differs by engine and
    // is deliberately excluded)
    q("e1b_date_parts",
      """SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |  year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  quarter(o_orderdate) AS q, day(o_orderdate) AS dom,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin) { (s, d) =>
      Tables.orders(s, d).groupBy(
        to_date(date_trunc("day", col("o_orderdate"))).as("d"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        quarter(col("o_orderdate")).as("q"),
        dayofmonth(col("o_orderdate")).as("dom"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- P6: NULL-semantics predicate over the generated meter dim
    // (malo_prod IS NOT NULL ⇔ solar, 02_populate_dimensions.sql:107)
    q("p6_null_semantics", {
      s"""WITH ${graft.meter.MeterSql.metersCte(1000)}
         |SELECT grid_zone_id,
         |  CAST(SUM(CASE WHEN malo_prod IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_solar,
         |  CAST(SUM(CASE WHEN malo_prod IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_plain
         |FROM meters GROUP BY grid_zone_id""".stripMargin
    }) { (s, _) =>
      graft.meter.MeterGen.metersDim(s, 1000)
        .groupBy(col("grid_zone_id"))
        .agg(
          sum(when(col("malo_prod").isNotNull, 1).otherwise(0)).as("n_solar"),
          sum(when(col("malo_prod").isNull, 1).otherwise(0)).as("n_plain"))
    },

    // ---- dbt-test parity as data: the declared quality suite — all six
    // check types of the reference's dbt surface (sources.yml +
    // 01_create_schema.sql CHECKs). The three conditional-count checks on
    // meters fuse into ONE aggregate pass (Checks.singlePass: one scan per
    // table however many checks run); unique/referential keep their own
    // shapes; accepted_values runs over a readings sample (status ∈ V/E/R,
    // sources.yml:26-28).
    q("quality_suite_dims", {
      s"""WITH ${graft.meter.MeterSql.zonesCte},
         |${graft.meter.MeterSql.metersCte(1000)},
         |${graft.meter.MeterSql.readingsCtes(100, 96)}
         |SELECT 'not_null' AS check_name, 'meter_id' AS col_name,
         |  CAST((SELECT COUNT(*) FROM meters WHERE meter_id IS NULL) AS BIGINT) AS violations,
         |  (SELECT COUNT(*) FROM meters) AS total
         |UNION ALL
         |SELECT 'non_negative', 'malo_cons',
         |  CAST((SELECT COUNT(*) FROM meters WHERE malo_cons < 0) AS BIGINT),
         |  (SELECT COUNT(*) FROM meters)
         |UNION ALL
         |SELECT 'at_least_one_present', 'malo_cons|malo_prod',
         |  CAST((SELECT COUNT(*) FROM meters
         |        WHERE malo_cons IS NULL AND malo_prod IS NULL) AS BIGINT),
         |  (SELECT COUNT(*) FROM meters)
         |UNION ALL
         |SELECT 'unique', 'meter_id',
         |  CAST((SELECT COUNT(*) - COUNT(DISTINCT meter_id) FROM meters) AS BIGINT),
         |  (SELECT COUNT(*) FROM meters)
         |UNION ALL
         |SELECT 'referential_integrity', 'grid_zone_id->grid_zone_id',
         |  CAST((SELECT COUNT(*) FROM meters m
         |        WHERE NOT EXISTS (SELECT 1 FROM zones z
         |                          WHERE z.grid_zone_id = m.grid_zone_id)) AS BIGINT),
         |  (SELECT COUNT(*) FROM meters)
         |UNION ALL
         |SELECT 'accepted_values', 'status',
         |  CAST((SELECT COUNT(*) FROM readings
         |        WHERE status NOT IN ('V', 'E', 'R')) AS BIGINT),
         |  (SELECT COUNT(*) FROM readings)""".stripMargin
    }) { (s, _) =>
      import graft.quality.Checks
      val meters = graft.meter.MeterGen.metersDim(s, 1000)
      val zones = graft.meter.MeterGen.gridZones(s)
      val readings = graft.meter.MeterGen.readings(s, 100, 96)
      Checks.suite(Seq(
        Checks.singlePass(meters, Seq(
          Checks.notNullCheck("meter_id"),
          Checks.nonNegativeCheck("malo_cons"),
          Checks.atLeastOnePresentCheck(Seq("malo_cons", "malo_prod")))),
        Checks.unique(meters, Seq("meter_id")),
        Checks.referentialIntegrity(meters, "grid_zone_id", zones, "grid_zone_id"),
        Checks.singlePass(readings, Seq(
          Checks.acceptedValuesCheck("status", Seq("V", "E", "R"))))))
    },

    // ---- IN-FLIGHT data-quality metrics via Dataset.observe: the
    // production pattern where quality counters ride the MAIN job's scan
    // (Spark's CollectMetrics node — accumulator-backed, exactly-once per
    // action) instead of paying a second pass over the corpus. The query
    // drives a full-scan action on the observed frame, then surfaces the
    // one metrics row; the oracle recomputes the same aggregates from the
    // table, so hash equality proves observe() counted every row exactly
    // once. At 100 TB this is the difference between "quality checks as
    // a free side effect of the nightly load" and "a second nightly
    // scan". (Distinct aggregates are disallowed in observe by Spark —
    // the check set is chosen accordingly.)
    q("quality_observe_metrics",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_negative,
        |  CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_type,
        |  CAST(MAX(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS max_cents
        |FROM events""".stripMargin) { (s, d) =>
      val obs = new org.apache.spark.sql.Observation()
      val main = Tables.events(s, d).observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_negative"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_null_type"),
        max(Tables.cents(col("value"))).as("max_cents"))
      // the main job (here: a pass-through count standing in for the real
      // sink write) — the metrics are collected DURING this action
      main.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("n_negative").asInstanceOf[Long],
        m("n_null_type").asInstanceOf[Long], m("max_cents").asInstanceOf[Long]))
        .toDF("n_rows", "n_negative", "n_null_type", "max_cents")
    },

    // ---- time-series gap fill / resample: thin the reading stream (~10%
    // deterministic drops), regenerate the full 15-min grid, and
    // forward-fill the cumulative counter with last_value(IGNORE NULLS) —
    // the meter-data repair step the reference has no answer for (its LAG
    // staging silently produces multi-interval deltas across gaps). The
    // grid comes from the same generator range (no join to build it), and
    // the only wide stages are the grid-left-join and the per-meter fill
    // window the LAG staging already pays.
    q("ts_gapfill", {
      s"""WITH ${graft.meter.MeterSql.readingsCtes(50, 96)},
         |thinned AS (
         |  SELECT * FROM readings
         |  WHERE ${graft.meter.MeterGen.uSql(
        "(meter_id * 131 + CAST(epoch_ms(reading_timestamp) / 900000 AS BIGINT))")} < 0.9),
         |grid AS (
         |  SELECT CAST(meter_id AS INTEGER) AS meter_id,
         |    TIMESTAMP '${graft.meter.MeterGen.Epoch}'
         |      + CAST(i * 15 AS INTEGER) * INTERVAL 1 MINUTE AS reading_timestamp
         |  FROM gen),
         |joined AS (
         |  SELECT g.meter_id, g.reading_timestamp,
         |    t.reading_consumption_milliwatts AS raw_cons,
         |    t.reading_consumption_milliwatts IS NULL AS is_gap
         |  FROM grid g LEFT JOIN thinned t
         |    ON g.meter_id = t.meter_id AND g.reading_timestamp = t.reading_timestamp)
         |SELECT meter_id, reading_timestamp, is_gap,
         |  last_value(raw_cons IGNORE NULLS) OVER (
         |    PARTITION BY meter_id ORDER BY reading_timestamp
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cons_filled
         |FROM joined""".stripMargin
    }) { (s, _) =>
      import graft.meter.MeterGen
      val readings = MeterGen.readings(s, 50, 96)
      // deterministic drop key: (meter, interval index) — same arithmetic
      // as the oracle's epoch-ms division
      val slot = (unix_millis(col("reading_timestamp")) / 900000L).cast("long")
      val thinned = readings
        .filter(MeterGen.u(col("meter_id") * 131 + slot) < 0.9)
        .select(col("meter_id"), col("reading_timestamp"),
          col("reading_consumption_milliwatts").as("raw_cons"))
      val grid = s.range(0, 50L * 96)
        .select(
          expr("id div 96 + 1").cast("int").as("meter_id"),
          expr(s"timestamp '${MeterGen.Epoch}' " +
            "+ make_interval(0, 0, 0, 0, 0, cast((id % 96) * 15 as int), 0)")
            .as("reading_timestamp"))
      val w = Window.partitionBy(col("meter_id")).orderBy(col("reading_timestamp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid
        .join(thinned, Seq("meter_id", "reading_timestamp"), "left")
        .select(col("meter_id"), col("reading_timestamp"),
          col("raw_cons").isNull.as("is_gap"),
          last(col("raw_cons"), ignoreNulls = true).over(w).as("cons_filled"))
    },

    // ---- LINEAR gap interpolation: the counter-correct repair for
    // `ts_gapfill`'s forward-fill (a carried-forward cumulative counter
    // assigns the whole gap's energy to the first interval after it;
    // interpolation spreads it evenly). Exact BIGINT arithmetic:
    //   filled = (prev·(t_next − t) + next·(t − t_prev)) div (t_next − t_prev)
    // — counter values and time spans are non-negative, so truncating and
    // flooring division agree between the engines by construction. Edge
    // rows fall back to the one known neighbor. Same grid/thinning as
    // ts_gapfill; the windows are per-meter (keyed, parallel at any scale).
    q("ts_interpolate_linear", {
      s"""WITH ${graft.meter.MeterSql.readingsCtes(50, 96)},
         |thinned AS (
         |  SELECT * FROM readings
         |  WHERE ${graft.meter.MeterGen.uSql(
        "(meter_id * 131 + CAST(epoch_ms(reading_timestamp) / 900000 AS BIGINT))")} < 0.9),
         |grid AS (
         |  SELECT CAST(meter_id AS INTEGER) AS meter_id,
         |    TIMESTAMP '${graft.meter.MeterGen.Epoch}'
         |      + CAST(i * 15 AS INTEGER) * INTERVAL 1 MINUTE AS reading_timestamp
         |  FROM gen),
         |joined AS (
         |  SELECT g.meter_id, g.reading_timestamp,
         |    epoch_ms(g.reading_timestamp) AS t,
         |    th.reading_consumption_milliwatts AS raw_cons,
         |    th.reading_consumption_milliwatts IS NULL AS is_gap
         |  FROM grid g LEFT JOIN thinned th
         |    ON g.meter_id = th.meter_id AND g.reading_timestamp = th.reading_timestamp),
         |bounded AS (
         |  SELECT meter_id, reading_timestamp, t, is_gap,
         |    last_value(raw_cons IGNORE NULLS) OVER (
         |      PARTITION BY meter_id ORDER BY reading_timestamp
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |    last_value(CASE WHEN raw_cons IS NOT NULL THEN t END IGNORE NULLS) OVER (
         |      PARTITION BY meter_id ORDER BY reading_timestamp
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |    first_value(raw_cons IGNORE NULLS) OVER (
         |      PARTITION BY meter_id ORDER BY reading_timestamp
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN raw_cons IS NOT NULL THEN t END IGNORE NULLS) OVER (
         |      PARTITION BY meter_id ORDER BY reading_timestamp
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |  FROM joined)
         |SELECT meter_id, reading_timestamp, is_gap,
         |  CAST(CASE WHEN pv IS NULL THEN nv
         |            WHEN nv IS NULL THEN pv
         |            WHEN nt = pt THEN pv
         |            ELSE (pv * (nt - t) + nv * (t - pt)) // (nt - pt)
         |       END AS BIGINT) AS cons_interp
         |FROM bounded""".stripMargin
    }) { (s, _) =>
      import graft.meter.MeterGen
      val readings = MeterGen.readings(s, 50, 96)
      val slot = (unix_millis(col("reading_timestamp")) / 900000L).cast("long")
      val thinned = readings
        .filter(MeterGen.u(col("meter_id") * 131 + slot) < 0.9)
        .select(col("meter_id"), col("reading_timestamp"),
          col("reading_consumption_milliwatts").as("raw_cons"))
      val grid = s.range(0, 50L * 96)
        .select(
          expr("id div 96 + 1").cast("int").as("meter_id"),
          expr(s"timestamp '${MeterGen.Epoch}' " +
            "+ make_interval(0, 0, 0, 0, 0, cast((id % 96) * 15 as int), 0)")
            .as("reading_timestamp"))
      val wPrev = Window.partitionBy(col("meter_id")).orderBy(col("reading_timestamp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("meter_id")).orderBy(col("reading_timestamp"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val tms = unix_millis(col("reading_timestamp"))
      grid
        .join(thinned, Seq("meter_id", "reading_timestamp"), "left")
        .select(col("meter_id"), col("reading_timestamp"), tms.as("t"),
          col("raw_cons"), col("raw_cons").isNull.as("is_gap"))
        .withColumn("pv", last(col("raw_cons"), ignoreNulls = true).over(wPrev))
        .withColumn("pt", last(when(col("raw_cons").isNotNull, col("t")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("raw_cons"), ignoreNulls = true).over(wNext))
        .withColumn("nt", first(when(col("raw_cons").isNotNull, col("t")),
          ignoreNulls = true).over(wNext))
        .select(col("meter_id"), col("reading_timestamp"), col("is_gap"),
          when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .when(col("nt") === col("pt"), col("pv"))
            .otherwise(expr("(pv * (nt - t) + nv * (t - pt)) div (nt - pt)"))
            .cast("long").as("cons_interp"))
    },

    // ---- trailing exponential smoothing (EWMA) per meter over interval
    // deltas, in EXACT scaled-integer arithmetic: α = 1/4, the 8-term
    // truncated expansion Σ_{k=0..7} 3^k·4^(7−k)·x_{t−k} emitted at scale
    // 4^8 = 65536 — binary-rational coefficients so no engine ever
    // rounds. Missing lags at a meter's head contribute 0 (the standard
    // zero-prior warm-up). One per-meter window, 8 LAG taps — map-side
    // after the one per-key sort; the 100 TB form is identical.
    q("w12_ewma_trailing", {
      val coeffs = (0 until 8).map(k =>
        (k, BigInt(3).pow(k).toLong * BigInt(4).pow(7 - k).toLong))
      val lagTerms = coeffs.map { case (k, c) =>
        if (k == 0) s"$c * delta"
        else s"$c * COALESCE(lag(delta, $k) OVER (PARTITION BY meter_id ORDER BY reading_timestamp), 0)"
      }.mkString("\n    + ")
      s"""WITH ${graft.meter.MeterSql.readingsCtes(50, 96)},
         |deltas AS (
         |  SELECT meter_id, reading_timestamp,
         |    reading_consumption_milliwatts
         |      - lag(reading_consumption_milliwatts) OVER (
         |          PARTITION BY meter_id ORDER BY reading_timestamp) AS delta
         |  FROM readings),
         |known AS (SELECT * FROM deltas WHERE delta IS NOT NULL)
         |SELECT meter_id, reading_timestamp, CAST(delta AS BIGINT) AS delta,
         |  CAST($lagTerms AS BIGINT) AS ewma_scaled
         |FROM known""".stripMargin
    }) { (s, _) =>
      import graft.meter.MeterGen
      val byMeter = Window.partitionBy(col("meter_id")).orderBy(col("reading_timestamp"))
      val deltas = MeterGen.readings(s, 50, 96)
        .select(col("meter_id"), col("reading_timestamp"),
          (col("reading_consumption_milliwatts")
            - lag(col("reading_consumption_milliwatts"), 1).over(byMeter)).as("delta"))
        .filter(col("delta").isNotNull)
      val ewma = (0 until 8).map { k =>
        val c = BigInt(3).pow(k).toLong * BigInt(4).pow(7 - k).toLong
        if (k == 0) lit(c) * col("delta")
        else lit(c) * coalesce(lag(col("delta"), k).over(byMeter), lit(0L))
      }.reduce(_ + _)
      deltas.select(col("meter_id"), col("reading_timestamp"),
        col("delta").cast("long").as("delta"),
        ewma.cast("long").as("ewma_scaled"))
    },

    // ---- seasonal-baseline deviation: each interval's consumption delta
    // vs the SAME METER, SAME TIME-OF-DAY average across days — the
    // "unusual for 3 PM on this meter" detector (w9's global z-score
    // cannot see daily shape). Corpus-aggregated-once shape: one
    // (meter, slot) mean, equi-joined back on the same key; emits only
    // the flagged rows (>1.5× or <0.5× of baseline). Both the mean and
    // the ratio are double-exact from integer inputs. E12 ratio-with-guard
    // doctrine: an all-zero (meter, slot) baseline makes the deviation
    // ratio undefined — such rows are EXCLUDED in both engines (without
    // the guard Spark's x/0.0 → NULL silently drops while DuckDB's ±inf
    // passes the > 1.5 branch — a latent oracle divergence).
    q("w13_seasonal_baseline", {
      s"""WITH ${graft.meter.MeterSql.readingsCtes(50, 480)},
         |deltas AS (
         |  SELECT meter_id, reading_timestamp,
         |    CAST(epoch_ms(reading_timestamp) / 900000 AS BIGINT) % 96 AS slot,
         |    reading_consumption_milliwatts
         |      - lag(reading_consumption_milliwatts) OVER (
         |          PARTITION BY meter_id ORDER BY reading_timestamp) AS delta
         |  FROM readings),
         |known AS (SELECT * FROM deltas WHERE delta IS NOT NULL),
         |baseline AS (
         |  SELECT meter_id, slot,
         |    SUM(delta) * 1.0 / COUNT(*) AS baseline_avg
         |  FROM known GROUP BY 1, 2)
         |SELECT k.meter_id, k.reading_timestamp, CAST(k.delta AS BIGINT) AS delta,
         |  b.baseline_avg, k.delta / b.baseline_avg AS dev_ratio
         |FROM known k JOIN baseline b
         |  ON k.meter_id = b.meter_id AND k.slot = b.slot
         |WHERE b.baseline_avg <> 0
         |  AND (k.delta / b.baseline_avg > 1.5 OR k.delta / b.baseline_avg < 0.5)""".stripMargin
    }) { (s, _) =>
      import graft.meter.MeterGen
      val byMeter = Window.partitionBy(col("meter_id")).orderBy(col("reading_timestamp"))
      val known = MeterGen.readings(s, 50, 480)
        .select(col("meter_id"), col("reading_timestamp"),
          ((unix_millis(col("reading_timestamp")) / 900000L).cast("long") % 96).as("slot"),
          (col("reading_consumption_milliwatts")
            - lag(col("reading_consumption_milliwatts"), 1).over(byMeter)).as("delta"))
        .filter(col("delta").isNotNull)
      seasonalDeviation(known)
    },

    // ---- robust (median/MAD) anomaly detection: flag deltas more than
    // 3 scaled-MAD from their meter's MEDIAN — w9's z-score family breaks
    // when the anomalies themselves inflate the mean/stddev; median and
    // MAD have a 50% breakdown point (the robust-statistics workhorse).
    // Shape: two per-meter aggregates (median, then median of absolute
    // deviations), each a tiny frame joined back on meter_id — no window
    // over the corpus, exact-integer deltas, double arithmetic identical
    // in both engines (quantile_cont interpolation over exactly
    // representable longs). E12 guard: mad = 0 (a constant-delta meter)
    // makes the score undefined — excluded in both engines.
    q("w14_mad_anomaly", {
      s"""WITH ${graft.meter.MeterSql.readingsCtes(50, 480)},
         |deltas AS (
         |  SELECT meter_id, reading_timestamp,
         |    reading_consumption_milliwatts
         |      - lag(reading_consumption_milliwatts) OVER (
         |          PARTITION BY meter_id ORDER BY reading_timestamp) AS delta
         |  FROM readings),
         |known AS (SELECT * FROM deltas WHERE delta IS NOT NULL),
         |med AS (
         |  SELECT meter_id, quantile_cont(delta, 0.5) AS med
         |  FROM known GROUP BY 1),
         |dev AS (
         |  SELECT k.meter_id, k.reading_timestamp, k.delta, m.med,
         |    ABS(k.delta - m.med) AS absdev
         |  FROM known k JOIN med m USING (meter_id)),
         |mad AS (
         |  SELECT meter_id, quantile_cont(absdev, 0.5) AS mad
         |  FROM dev GROUP BY 1)
         |SELECT d.meter_id, d.reading_timestamp, CAST(d.delta AS BIGINT) AS delta,
         |  d.med, md.mad,
         |  d.absdev / (CAST(1.4826 AS DOUBLE) * md.mad) AS robust_score,
         |  d.absdev > CAST(4.4478 AS DOUBLE) * md.mad AS is_anomaly
         |FROM dev d JOIN mad md USING (meter_id)
         |WHERE md.mad > 0""".stripMargin
    }) { (s, _) =>
      import graft.meter.MeterGen
      val byMeter = Window.partitionBy(col("meter_id")).orderBy(col("reading_timestamp"))
      val known = MeterGen.readings(s, 50, 480)
        .select(col("meter_id"), col("reading_timestamp"),
          (col("reading_consumption_milliwatts")
            - lag(col("reading_consumption_milliwatts"), 1).over(byMeter)).as("delta"))
        .filter(col("delta").isNotNull)
      val med = known.groupBy(col("meter_id"))
        .agg(median(col("delta")).as("med"))
      val dev = known.join(med, Seq("meter_id"))
        .withColumn("absdev", abs(col("delta") - col("med")))
      val mad = dev.groupBy(col("meter_id"))
        .agg(median(col("absdev")).as("mad"))
      dev.join(mad, Seq("meter_id"))
        // every scored row is emitted with its flag (w9's convention — the
        // detector's score surface, not just the alarms); 4.4478 = 3 ×
        // 1.4826 (the normal-consistency MAD scale), stated as ONE double
        // literal in both engines so the products agree ulp-exact
        .filter(col("mad") > 0)
        .select(col("meter_id"), col("reading_timestamp"),
          col("delta").cast("long").as("delta"), col("med"), col("mad"),
          (col("absdev") / (lit(1.4826) * col("mad"))).as("robust_score"),
          (col("absdev") > lit(4.4478) * col("mad")).as("is_anomaly"))
    },

    // ---- A8: the init-time verification counts
    // (02_populate_dimensions.sql:97-125 DO block)
    q("a8_dim_verification", {
      s"""WITH ${graft.meter.MeterSql.zonesCte},
         |${graft.meter.MeterSql.customersCte(1000)},
         |${graft.meter.MeterSql.metersCte(1000)}
         |SELECT
         |  (SELECT COUNT(*) FROM zones) AS grid_zone_count,
         |  (SELECT COUNT(*) FROM customers) AS customer_count,
         |  (SELECT COUNT(*) FROM meters) AS meter_count,
         |  (SELECT COUNT(*) FROM meters WHERE malo_prod IS NOT NULL) AS solar_meter_count,
         |  (SELECT COUNT(*) FROM meters WHERE malo_prod IS NOT NULL) * 100.0
         |    / (SELECT COUNT(*) FROM meters) AS solar_pct""".stripMargin
    }) { (s, _) =>
      import graft.meter.MeterGen
      val zc = MeterGen.gridZones(s).agg(count(lit(1)).as("grid_zone_count"))
      val cc = MeterGen.customers(s, 1000).agg(count(lit(1)).as("customer_count"))
      val mc = MeterGen.metersDim(s, 1000).agg(
        count(lit(1)).as("meter_count"),
        sum(when(col("malo_prod").isNotNull, 1L).otherwise(0L)).as("solar_meter_count"))
      // 1-row global-aggregate frames: broadcast hints keep the combine a
      // bounded BroadcastNestedLoopJoin (never CartesianProduct)
      zc.crossJoin(broadcast(cc)).crossJoin(broadcast(mc))
        .withColumn("solar_pct",
          col("solar_meter_count") * 100.0 / col("meter_count"))
    }
  )
}
