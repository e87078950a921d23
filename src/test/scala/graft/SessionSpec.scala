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
  }
}
