package graft.plans

import graft.SparkSpec
import graft.ops.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The custom TopKPerKey operator: equals the window row_number
  * formulation, and its physical plan is partial→exchange→final with the
  * bounded-heap pruning before the shuffle. */
class TopKPerKeySpec extends SparkSpec {

  test("top-3 events per user equals the window formulation") {
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("value"))
    val custom = TopKPerKey(
      ev, Seq("user_id"), Seq(("value", true), ("event_id", false)), 3)
    val viaWindow = ev
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))))
      .filter(col("rn") <= 3).drop("rn")

    assert(custom.count() == viaWindow.count())
    assert(custom.except(viaWindow).count() == 0)
    assert(viaWindow.except(custom).count() == 0)
  }

  test("physical plan: partial heap -> exchange -> final heap") {
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("value"))
    val custom = TopKPerKey(
      ev, Seq("user_id"), Seq(("value", true), ("event_id", false)), 3)
    val plan = custom.queryExecution.executedPlan match {
      // AQE wraps the plan and hides it from collect(); unwrap
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case o => o
    }
    val execs = plan.collect { case t: TopKPerKeyExec => t }
    assert(execs.map(_.partial).sorted == Seq(false, true), s"plan:\n$plan")
    val planStr = plan.toString
    assert(planStr.contains("Exchange") || planStr.contains("ShuffleExchange"),
      s"expected a key exchange between phases:\n$planStr")

    // execute and read back the operator's SQL metrics (AQE off so the
    // partial node isn't hidden inside a shuffle query stage)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = TopKPerKey(
        Tables.events(spark, sf0001)
          .select(col("event_id"), col("user_id"), col("value")),
        Seq("user_id"), Seq(("value", true), ("event_id", false)), 3)
      val n = df.collect().length
      val afterPlan = df.queryExecution.executedPlan
      val Seq(fin) = afterPlan.collect { case t: TopKPerKeyExec if !t.partial => t }
      val Seq(part) = afterPlan.collect { case t: TopKPerKeyExec if t.partial => t }
      assert(fin.metrics("numOutputRows").value == n)
      assert(part.metrics("numOutputRows").value >= n,
        "partial must ship at least the final result rows")
      assert(part.metrics("prunedRows").value > 0,
        "expected map-side pruning on this input")
      assert(part.metrics("overflowRows").value == 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("near-unique keys under a tiny partial-key cap stay exact (overflow pass-through)") {
    spark.conf.set(TopKPerKey.PartialMaxKeysConf, "4")
    try {
      // ~one key per row: the partial map overflows immediately and most
      // rows pass through unpruned; results must not change
      val ev = Tables.events(spark, sf0001)
        .select(col("event_id"), col("user_id"), col("value"),
          (col("event_id") % 4096).as("k"))
      val custom = TopKPerKey(
        ev, Seq("k"), Seq(("value", true), ("event_id", false)), 2)
      val viaWindow = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("value").desc, col("event_id"))))
        .filter(col("rn") <= 2).drop("rn")
      assert(custom.count() == viaWindow.count())
      assert(custom.except(viaWindow).count() == 0)
      assert(viaWindow.except(custom).count() == 0)
    } finally spark.conf.unset(TopKPerKey.PartialMaxKeysConf)
  }

  test("property: equals the window formulation for generator-drawn k and key widths") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = (0 until 4).flatMap(i =>
      Gen.zip(Gen.choose(1, 7), Gen.choose(2, 512))
        .apply(Gen.Parameters.default, Seed(7L + i)))
    assert(params.nonEmpty)
    params.foreach { case (k, keyMod) =>
      val ev = Tables.events(spark, sf0001)
        .select(col("event_id"), col("user_id"), col("value"),
          (col("event_id") % keyMod).as("kk"))
      val custom = TopKPerKey(
        ev, Seq("kk"), Seq(("value", true), ("event_id", false)), k)
      val viaWindow = ev
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("kk")).orderBy(col("value").desc, col("event_id"))))
        .filter(col("rn") <= k).drop("rn")
      assert(custom.count() == viaWindow.count(), s"k=$k keyMod=$keyMod")
      assert(custom.except(viaWindow).count() == 0, s"k=$k keyMod=$keyMod")
      assert(viaWindow.except(custom).count() == 0, s"k=$k keyMod=$keyMod")
    }
  }

  test("k larger than any group returns everything") {
    val ev = Tables.events(spark, sf0001).select(col("event_id"), col("user_id"))
    val all = TopKPerKey(ev, Seq("user_id"), Seq(("event_id", false)), 1000000)
    assert(all.count() == ev.count())
  }
}
