package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test fixture: the year-shaped maintenance workload for
  * [[HeavyHitterStore]] — how fast does the summary's slack bound widen
  * under long-running maintenance?
  *
  * The store's range answer is est(key) = Σ stored day counts with slack
  * Σ t(day) over the days the key was truncated — both exact theorems per
  * day, but the UPPER bound widens additively with every merged day on
  * which the key fell outside the kept top-K. The workload has the churn
  * shape that actually stresses it: a persistent head the summary always
  * keeps, plus per-key pseudo-random daily spikes that rotate mid-rank
  * keys through the truncation boundary. KSizingSpec drives it through
  * daily [[HeavyHitterStore.appendBatch]] landings with a weekly
  * finalizing [[HeavyHitterStore.compact]]. The year-long run behind the
  * SCALING.md table is a frozen record; its runner is in git at
  * `48826a8` (`HhSlackSim.main`).
  *
  * Workload (all integer-deterministic, no RNG):
  *   cnt(day d, key k) = P(k) + R(d,k)
  *   P(k) = max(0, 45 − k)              — persistent head, keys 0..44
  *   R(d,k) = 50 / (1 + (k·31 + d·17) mod 97) — rotating daily spikes,
  *            keys 0..1999 (each day a ~20-key cohort spikes to 50,
  *            ABOVE the persistent head — so at K=20 the day's kept set
  *            is mostly that day's spikers and the year's true top keys
  *            are truncated on most days, the adversarial regime; at
  *            K=100 the head fits under the threshold's far side)
  */
object HhSlackSim {

  private val NKeys = 2000

  /** The workload's measured shape constants: ~20 keys spike above the
    * head each day (R(d,k) = 50 at (k·31 + d·17) mod 97 = 0 over 2000
    * keys ≈ 20.6/day) and the probed spans verify the head's top keys —
    * [[HeavyHitterStore.kFor]]'s inputs for THIS workload, pinned by
    * KSizingSpec against a re-run of the landings at reduced days. */
  val SpikeCohort = 20
  val ExactHeadWidth = 20

  /** Exact per-(day, key) counts of the whole simulated year — the
    * ground truth AND the generator feeding the store landings
    * (package-visible: KSizingSpec re-drives the same workload). */
  private[sources] def truth(spark: SparkSession, days: Int): DataFrame =
    spark.range(days.toLong)
      .select(col("id").cast("int").as("d"))
      .crossJoin(broadcast(spark.range(NKeys.toLong)
        .select(col("id").as("user_id"))))
      .withColumn("p",
        greatest(lit(0L), lit(45L) - col("user_id")))
      .withColumn("r",
        (lit(50L) / (lit(1L) + pmod(col("user_id") * 31 + col("d") * 17,
          lit(97L)))).cast("long"))
      .withColumn("cnt", col("p") + col("r"))
      .filter(col("cnt") > 0)
      .withColumn("day", date_add(lit("2026-01-01").cast("date"), col("d")))
      .select(col("d"), col("day"), col("user_id"), col("cnt"))

  /** One day's counts exploded back into event rows (ts carries only the
    * date — that's all [[HeavyHitterStore.appendBatch]]'s dayCounts
    * keeps), so the store is driven through its REAL landing surface. */
  private[sources] def eventsOf(dayCounts: DataFrame): DataFrame =
    dayCounts
      .select(col("day").cast("timestamp").as("ts"), col("user_id"),
        explode(sequence(lit(1L), col("cnt"))).as("i"))
      .drop("i")
}
