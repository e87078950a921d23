package graft

import org.apache.spark.sql.SparkSession

/** The one way this project builds a local SparkSession. Bench, Verify,
  * the dev helpers (BenchOne, ProfileOne, PlanReport) and the test suites
  * all build through it, so the plans the tests and Verify check are the
  * plans Bench times. Callers choose only the app name and the core count;
  * the test session adds its warehouse directory. */
object Session {

  /** Every engine conf a session carries (beside master and app name). */
  def engineConfs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // keep ObjectHashAggregate (TypedImperativeAggregate sketches) in
    // hash mode instead of per-partition sort fallback at 128 groups
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000",
    // always use the sort-based shuffle writer (r15, guide §2.2): below
    // 200 reduce partitions Spark's bypass writer opens one file PER
    // (map task × reduce partition) — at local[32]×32 that is ~1024
    // file creations per exchange, and executor stack samples showed
    // tasks blocked in FileOutputStream.open, not compute. Production
    // shuffles (R > 200) take the sort writer anyway — this makes the
    // local run exercise the same writer, one indexed file per map task
    // at any R. Measured: −0.3..−0.6 s on every shuffle-dense query
    // (sim_ivfpq_topk 2.9→2.4, dedup_ngram_jaccard 1.7→1.2), and r16's
    // whole-suite A/B on one host: sort writer 204.5 s, bypass 220.5 s.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.session.timeZone" -> "UTC",
    // the corpus has shipped events.ts as parquet TIMESTAMP(NANOS), which
    // Spark 4 reads only as a raw epoch-ns BIGINT ([[graft.ops.Tables.events]]
    // normalizes both encodings)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** The session, with the engine's planner additions
    * ([[graft.plans.GraftExtensions]]: the TopKPerKey strategy, and the
    * approximate-distinct rule, inert unless its conf key is set) injected
    * here once, so no query body mutates the live session. */
  def build(appName: String, cpus: Int,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
    (engineConfs(cpus) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
