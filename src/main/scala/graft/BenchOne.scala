package graft

/** Dev helper: time a single registered query N times on a given SF dir
  * (`runMain graft.BenchOne <name> [sfDir] [reps]`). Not part of the driver
  * contract — used to compare plan variants without the full bench. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.build("graft-bench-one", 32)
    // SPARK_GRAFT_EXPLAIN=1 prints the formatted physical plan once before
    // timing — the plan-diff companion to the timings
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    // time the SAME action as graft.Bench (full materialization through
    // the frame's own QueryExecution) — count() lets Catalyst prune most
    // of the computation, so A/Bs measured here would not transfer
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.toRdd.foreach(_ => ())
      spark.catalog.clearCache()
      println(f"[bench-one] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
