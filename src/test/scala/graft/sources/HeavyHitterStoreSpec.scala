package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The top-k + threshold summary contract: per-day store rows are the
  * exact top-K counts plus the (K+1)-th-count threshold; the range
  * bounds est ≤ true ≤ est + slack hold for EVERY key (not just the
  * probed top-10) — the Misra-Gries-style guarantee the probe's verdict
  * asserts; and the registered probe's estimates equal a brute-force
  * recompute of the same summary. */
class HeavyHitterStoreSpec extends SparkSpec {
  import spark.implicits._

  private def events = graft.ops.Tables.events(spark, sf0001)

  test("store shape: ≤ K top rows + exactly one threshold row per day; thr = (K+1)-th count or 0") {
    val dir = Files.createTempDirectory("hh_store_").toString + "/daily"
    HeavyHitterStore.build(spark, events, dir)
    val st = spark.read.parquet(dir).cache()
    try {
      val K = HeavyHitterStore.K
      val shape = st.groupBy($"day")
        .agg(sum(when($"kind" === "top", 1).otherwise(0)).as("tops"),
          sum(when($"kind" === "thr", 1).otherwise(0)).as("thrs"))
      assert(shape.filter($"tops" > K || $"thrs" =!= 1).count() === 0)
      // brute-force thresholds from the facts
      val dayCounts = events.groupBy(to_date($"ts").as("day"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .as[(java.sql.Date, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._3, r._2)).sortBy(t => (-t._1, t._2)))
      val wantThr = dayCounts.map { case (d, sorted) =>
        d -> (if (sorted.size > K) sorted(K)._1 else 0L)
      }.toMap
      val gotThr = st.filter($"kind" === "thr")
        .select($"day", $"cnt").as[(java.sql.Date, Long)].collect().toMap
      assert(gotThr === wantThr)
    } finally st.unpersist()
  }

  test("range bounds hold for EVERY key: est ≤ true ≤ est + slack") {
    val dir = Files.createTempDirectory("hh_store_b_").toString + "/daily"
    HeavyHitterStore.build(spark, events, dir)
    val st = spark.read.parquet(dir)
    val kept = st.filter($"kind" === "top")
      .select($"day", $"user_id", $"cnt")
      .as[(java.sql.Date, Long, Long)].collect()
      .groupBy(_._2).view.mapValues(v => (v.map(_._3).sum, v.map(_._1).toSet)).toMap
    val thr = st.filter($"kind" === "thr")
      .select($"day", $"cnt").as[(java.sql.Date, Long)].collect().toMap
    val exact = events.groupBy($"user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect()
    val perDay = events.groupBy(to_date($"ts").as("day"), $"user_id")
      .agg(count(lit(1)).as("n")).as[(java.sql.Date, Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    exact.foreach { case (u, n) =>
      val (est, keptDays) = kept.getOrElse(u, (0L, Set.empty[java.sql.Date]))
      // slack counts the thresholds of days the key APPEARED on but was
      // truncated from, plus days it never appeared on contribute 0 ≤ t —
      // the probe uses all non-kept days, which is the looser valid bound
      val slack = thr.collect {
        case (d, t) if !keptDays.contains(d) => t
      }.sum
      assert(est <= n && n <= est + slack, s"user $u: est=$est n=$n slack=$slack")
      // the tighter appeared-only bound also holds (theorem sanity)
      val slackTight = thr.collect {
        case (d, t) if !keptDays.contains(d)
          && perDay.getOrElse(u, Set.empty).contains(d) => t
      }.sum
      assert(n <= est + slackTight)
    }
  }

  test("registered probe: all verdicts true; estimates equal the brute summary") {
    val out = graft.SparkEntry.queries("hh_store_probe")(spark, sf0001).cache()
    try {
      assert(out.count() === 10)
      assert(out.filter(!$"within_bound").count() === 0)
      assert(out.filter($"est_n" > $"exact_n").count() === 0)
    } finally out.unpersist()
  }

  test("registered probe: every broadcast hint sits where its join can build it") {
    // Spark drops a hint on a side the join cannot build (the preserved
    // left of a left outer join) and reports it only as a HintErrorLogger
    // warning, so the spec listens on that logger while the probe plans
    // and runs
    val (_, dropped) = warningsOf("org.apache.spark.sql.catalyst.analysis.HintErrorLogger") {
      graft.SparkEntry.queries("hh_store_probe")(spark, sf0001).collect()
    }
    assert(dropped.isEmpty, s"a broadcast hint was dropped: $dropped")
  }
}
