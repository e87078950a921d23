package graft

/** Bench, Verify and the test suites build through [[Session]]; the test
  * session must carry every engine conf the builder sets, so what the
  * tests check is what Bench times and Verify dumps. */
class SessionSpec extends SparkSpec {
  test("the test session carries every engine conf the shared builder sets") {
    assert(spark.sparkContext.master === "local[4]")
    Session.engineConfs(4).foreach { case (k, v) =>
      val got = spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k))
      assert(got === Some(v), k)
    }
    // the events loader relies on it; no query body sets it any more
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("the test session plans TopKPerKey through the builder's strategy, once") {
    import org.apache.spark.sql.functions.col
    assert(spark.sessionState.planner.strategies
      .count(_ == plans.TopKPerKeyStrategy) === 1)
    assert(!spark.experimental.extraStrategies.contains(plans.TopKPerKeyStrategy),
      "registered at session build, not injected by query code")
    val top = plans.TopKPerKey(
      ops.Tables.events(spark, sf0001).select(col("event_id"), col("user_id")),
      Seq("user_id"), Seq(("event_id", false)), 1)
    assert(top.queryExecution.executedPlan.toString.contains("TopKPerKey"))
  }
}
