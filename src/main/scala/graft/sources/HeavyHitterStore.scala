package graft.sources

import graft.GraftQuery
import graft.GraftQuery.q
import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The fourth mergeable summary cube, completing the quartet — counts
  * (plain SUM), distincts ([[SketchStore]], HLL register max), quantiles
  * ([[HistStore]], bucket-count SUM) — with HEAVY HITTERS: per day the
  * store keeps the exact counts of the top-K keys plus the day's
  * truncation threshold t = the (K+1)-th largest count (0 when nothing
  * was dropped). That pair is the classic mergeable top-k summary (the
  * Misra-Gries / Space-Saving guarantee in its simplest persisted form):
  * for any day range,
  *
  *   est(key) = Σ stored counts  ≤  true(key)  ≤  est(key) + Σ t(day)
  *                                              (sum over days where the
  *                                               key was truncated away)
  *
  * — the lower bound because stored counts are exact per-day counts, the
  * upper because a truncated key's day count can never exceed that day's
  * threshold. Both bounds are THEOREMS, so the probe's `within_bound`
  * verdict is deterministic and the whole output hash-checks against the
  * oracle's replica of the same summary.
  *
  * MAINTENANCE SURFACE (the other three cubes' append-only contract):
  *
  *  - [[appendDay]] lands a COMPLETE day's canonical summary (kind
  *    'top'/'thr') — exact, because a whole day's summary IS the batch
  *    build restricted to that day.
  *  - [[appendBatch]] lands a micro-batch's UNTRUNCATED per-(day, key)
  *    partial counts (kind 'part') under `batch_id=<epoch>` — exact
  *    integer counts are SUM-mergeable, so any batch slicing of a day
  *    folds back to the very counts the batch build would have ranked.
  *    Truncating per batch instead would keep each landing K-bounded but
  *    make the merge widen slack per batch (the summary algebra allows
  *    it; exactness does not survive it) — the engine chooses exact
  *    partials + compaction, so a stream-built store answers
  *    HASH-IDENTICALLY to the batch-built one (CubeCompactSpec).
  *  - [[compact]] folds partials under the [[CubeLog]] crash-safe
  *    generation contract: still-open days merge losslessly (one 'part'
  *    row per (day, key)); days closed by the caller's event-time
  *    watermark FINALIZE to the canonical K-bounded 'top'/'thr' form —
  *    exact, because a closed day's folded partials are its complete
  *    counts. Pass `finalizeBefore` ≤ the stream's watermark: a late
  *    partial for an already-finalized day would otherwise coexist with
  *    a truncated summary, and while the merged bound stays VALID (ests
  *    sum over disjoint row sets), hash-equality with a batch build does
  *    not survive truncation-then-more-data. The discipline is ENFORCED:
  *    compact and summaries fail loudly on a 'part' row for a day that
  *    already has canonical rows (see requireNoLatePartials).
  *
  * The store build runs through the engine's own [[graft.plans.TopKPerKey]]
  * operator (map-side bounded-heap pruning before the exchange) — at
  * 100 TB per-day key cardinality is corpus-scale, and selecting K+1 of
  * them is exactly the workload that operator exists for; the ranking
  * window that splits kept rows from the threshold then runs on ≤ K+1
  * rows per day by construction. The finalized store is |days| × (K+1)
  * rows — corpus-size-independent, like its three siblings; between
  * compactions the open day's partials are bounded by that day's key
  * cardinality, which is why the compaction cadence IS the state bound.
  */
object HeavyHitterStore {

  /** Counters kept per day (the summary's K). */
  val K = 20

  /** The K-sizing rule the year-long maintenance simulation implies,
    * codified ([[ErasureStore.bucketsFor]]'s spec-pinned style): the
    * degradation in K is a CLIFF, not a slope — at K at or below the
    * day-grain churn cohort (the keys that can out-count the persistent
    * head on a single day) the head is truncated almost daily and est
    * collapses to ~0.08–0.15 of truth; at cohort + head width every day
    * keeps the whole head and the answer is EXACT (est/true = 1.000,
    * slack 0, at every trailing span — SCALING.md's measured table:
    * K=20 useless, K=40 exact on the ~20-spike/~20-head workload).
    * There is no useful middle, so the rule is a sum, not a trade-off:
    * size K for the day's churn PLUS the head you want exact, never for
    * the range-grain top-N you plan to ask about. KSizingSpec re-runs
    * the measured workload through the real maintenance surface and pins
    * both sides of the cliff at this function's output. */
  def kFor(exactHeadWidth: Int, dailyChurnCohort: Int): Int = {
    require(exactHeadWidth > 0 && dailyChurnCohort >= 0,
      s"kFor($exactHeadWidth, $dailyChurnCohort): head width must be " +
        "positive and the churn cohort non-negative")
    exactHeadWidth + dailyChurnCohort
  }

  /** The K a store was built/finalized at, persisted beside the data in
    * an `_hh_k` sidecar (underscore-prefixed: hidden from the store's own
    * parquet discovery). Canonical 'top'/'thr' rows are TRUNCATED at
    * their K, so mixing two Ks in one store is silently inconsistent with
    * both — every canonical-row writer records K and every canonical-row
    * consumer validates against it (fail loudly, not mixed-k answers). */
  def storedK(s: SparkSession, dir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_hh_k")
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p)) None
    else {
      val in = hfs.open(p)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim.toInt)
      finally in.close()
    }
  }

  private def persistK(s: SparkSession, dir: String, k: Int): Unit =
    storedK(s, dir) match {
      case Some(prev) =>
        require(prev == k, kMismatchMsg(dir, prev, k))
      case None =>
        val p = new org.apache.hadoop.fs.Path(dir, "_hh_k")
        val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        hfs.mkdirs(p.getParent)
        val out = hfs.create(p, true)
        try out.write(k.toString.getBytes("UTF-8")) finally out.close()
    }

  private def requireK(s: SparkSession, dir: String, k: Int): Unit =
    storedK(s, dir).foreach(prev =>
      require(prev == k, kMismatchMsg(dir, prev, k)))

  private def kMismatchMsg(dir: String, prev: Int, k: Int): String =
    s"heavy-hitter store $dir holds canonical summaries truncated at " +
      s"K=$prev but the caller passed K=$k — open partials would rank at " +
      s"$k beside finalized days kept at $prev, a store consistent with " +
      "NEITHER. Pass the store's own K (storedK), or rebuild"

  /** Exact per-(day, key) counts of a slice of events — the partial the
    * streaming path lands and the fold sums. */
  private def dayCounts(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))

  /** Rank exact (day, user_id, cnt) rows into the canonical summary:
    * kind 'top' rows carry the exact counts of the K heaviest keys (ties
    * broken by key), the single kind 'thr' row per day carries the
    * truncation threshold as cnt (user_id = -1). */
  private[sources] def summarize(s: SparkSession, counts: DataFrame,
      k: Int = K): DataFrame = {
    val topK1 = graft.plans.TopKPerKey(counts,
      keys = Seq("day"), orderBy = Seq(("cnt", true), ("user_id", false)), k = k + 1)
    // rank within the ≤ K+1 surviving rows per day (bounded window)
    val rk = topK1.withColumn("rn", row_number().over(
      Window.partitionBy(col("day")).orderBy(col("cnt").desc, col("user_id"))))
    val kept = rk.filter(col("rn") <= k)
      .select(col("day"), col("user_id"), col("cnt"), lit("top").as("kind"))
    val thr = rk.groupBy(col("day"))
      .agg(coalesce(max(when(col("rn") === k + 1, col("cnt"))), lit(0L)).as("cnt"))
      .select(col("day"), lit(-1L).as("user_id"), col("cnt"), lit("thr").as("kind"))
    kept.unionByName(thr)
  }

  /** Per-day canonical summaries of a complete event set. */
  private[sources] def dailySummaries(s: SparkSession, events: DataFrame,
      k: Int = K): DataFrame =
    summarize(s, dayCounts(events), k)

  def build(s: SparkSession, events: DataFrame, dir: String, k: Int = K): Unit = {
    dailySummaries(s, events, k).coalesce(1).write.mode("overwrite").parquet(dir)
    persistK(s, dir, k)
  }

  /** Append a COMPLETE day (or days): canonical 'top'/'thr' rows, exact
    * by construction, one appended file, no existing row touched. */
  def appendDay(s: SparkSession, events: DataFrame, dir: String,
      k: Int = K): Unit = {
    persistK(s, dir, k)
    dailySummaries(s, events, k).coalesce(1).write.mode("append").parquet(dir)
  }

  /** Streaming maintenance: land the micro-batch's exact per-(day, key)
    * partial counts as kind 'part' under `batch_id=<epoch>` with
    * overwrite (replay-idempotent), guarded by the [[CubeLog]] watermark
    * so epochs already folded by [[compact]] no-op instead of
    * double-counting. */
  def appendBatch(events: DataFrame, dir: String, batchId: Long): Unit = {
    if (CubeLog.isFolded(events.sparkSession, dir, batchId)) return
    CubeLog.claimEpoch(events.sparkSession, dir, batchId) // single-writer guard
    dayCounts(events)
      .withColumn("kind", lit("part"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
  }

  /** The `finalizeBefore ≤ stream watermark` discipline ENFORCED, not
    * just documented: a 'part' row for a day that already has canonical
    * 'top'/'thr' rows means late data landed AFTER the day was finalized.
    * The canonical summary is truncated (non-top keys' counts were
    * dropped), so the exact merge is unrecoverable — ranking the late
    * partials separately would emit a SECOND summary row set for the day
    * (duplicate per-day rows, a silently wrong store), and folding them
    * into the truncated rows would break the est ≤ true ≤ est+slack
    * theorem's exactness. Both [[compact]] and [[summaries]] fail loudly
    * instead; the repair is appendDay from the day's complete facts.
    * Cost: one join of two |days|-bounded distinct frames. */
  private def requireNoLatePartials(
      canonical: DataFrame, partDays: DataFrame, where: String): Unit = {
    val dup = canonical.select(col("day")).distinct()
      .join(partDays.select(col("day")).distinct(), "day")
      .limit(5).collect().map(_.getDate(0))
    require(dup.isEmpty,
      s"heavy-hitter store $where: 'part' rows exist for finalized day(s) " +
        s"${dup.mkString(", ")} — late data landed after " +
        "compact(finalizeBefore) closed the day. The canonical summary is " +
        "truncated, so the exact merge is unrecoverable; re-land the day " +
        "via appendDay from complete facts, and keep finalizeBefore at or " +
        "below the stream's event-time watermark")
  }

  /** Fold batch partials: canonical rows pass through; 'part' rows merge
    * per (day, key) by SUM; days strictly before `finalizeBefore`
    * (ISO date; pass the stream's event-time watermark) finalize to the
    * canonical K-bounded form. */
  def compact(spark: SparkSession, dir: String,
      finalizeBefore: Option[String] = None, k: Int = K): Long = {
    // finalizing CREATES canonical rows at k: record it first landing,
    // validate against the store's own K ever after (a k=20 compact over
    // a k=40 store would close days at the wrong truncation silently)
    if (finalizeBefore.isDefined) persistK(spark, dir, k)
    // force when finalizing: closing a day must work on a quiet store
    // (no new epochs since the last fold) too
    CubeLog.compact(spark, dir, force = finalizeBefore.isDefined) { rows =>
      val canonical = rows.filter(col("kind") =!= "part")
      val merged = rows.filter(col("kind") === "part")
        .groupBy(col("day"), col("user_id"))
        .agg(sum(col("cnt")).as("cnt"))
      requireNoLatePartials(canonical, merged, "compact")
      finalizeBefore match {
        case None =>
          canonical.unionByName(merged.withColumn("kind", lit("part")))
        case Some(cutoff) =>
          val closed = summarize(spark, merged.filter(col("day") < lit(cutoff)), k)
          val open = merged.filter(col("day") >= lit(cutoff))
            .withColumn("kind", lit("part"))
          canonical.unionByName(closed).unionByName(open)
      }
    }
  }

  /** Read the store at SUMMARY grain regardless of layout: canonical
    * rows pass through; live/folded 'part' rows fold (SUM per (day, key))
    * and rank into the same canonical form the batch build emits — so a
    * purely stream-built store yields row-for-row the batch build's
    * summaries (partials are exact and sum to complete day counts). */
  def summaries(s: SparkSession, dir: String, k: Int = K): DataFrame = {
    requireK(s, dir, k)
    val st = CubeLog.read(s, dir)
    val canonical = st.filter(col("kind") =!= "part")
      .select(col("day"), col("user_id"), col("cnt"), col("kind"))
    val parts = st.filter(col("kind") === "part")
      .groupBy(col("day"), col("user_id"))
      .agg(sum(col("cnt")).as("cnt"))
    requireNoLatePartials(canonical, parts, "summaries")
    canonical.unionByName(summarize(s, parts, k))
  }

  private lazy val root: String =
    s"${sys.props("java.io.tmpdir")}/graft_hh_store/${java.util.UUID.randomUUID()}"
  private val built = scala.collection.mutable.Map.empty[String, String]
  private def storeDir(s: SparkSession, d: String): String =
    built.synchronized {
      built.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        build(s, Tables.events(s, d), dir)
        dir
      })
    }

  /** Stream-maintained twin of the registered store: the SAME corpus
    * landed as three deterministic epoch slices (user_id mod 3 — every
    * epoch carries partials of every day, the adversarial slicing),
    * compacted with every day closed. Exists so the maintenance path is
    * ORACLE-GATED, not just spec-tested: the probe over this store must
    * hash-match the same declarative truth as the batch-built one. */
  private val builtMaintained = scala.collection.mutable.Map.empty[String, String]
  private def maintainedDir(s: SparkSession, d: String): String =
    builtMaintained.synchronized {
      builtMaintained.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}_maintained"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val events = Tables.events(s, d)
        (0L to 2L).foreach { epoch =>
          appendBatch(events.filter(pmod(col("user_id"), lit(3L)) === epoch),
            dir, epoch)
        }
        compact(s, dir, finalizeBefore = Some("9999-12-31"))
        dir
      })
    }

  /** Shared probe body: for the EXACT top-10 keys (the verification side
    * the oracle requires), the estimate and slack come from STORED
    * summary rows only; `within_bound` states the summary theorem and
    * must be TRUE row-for-row. */
  private def probeFrom(s: SparkSession, d: String, st: DataFrame): DataFrame = {
    val kept = st.filter(col("kind") === "top")
      .select(col("day"), col("user_id"), col("cnt"))
    val thr = st.filter(col("kind") === "thr").select(col("day"), col("cnt").as("t"))
    // verification side: exact full-span top-10 from facts
    val tot = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id")).agg(sum(col("n")).as("exact_n"))
    val top10 = tot.orderBy(col("exact_n").desc, col("user_id")).limit(10)
    // estimate + slack FROM THE STORE against the 10-row broadcast of the
    // top-10 ids. Every broadcast sits on a side its join can build (the
    // right of a semi or left outer join, either side of an inner one):
    // the preserved left side of an outer join cannot be built, and Spark
    // drops a hint placed there.
    val ids = broadcast(top10.select(col("user_id")))
    val est = kept.join(ids, Seq("user_id"), "left_semi")
      .groupBy(col("user_id")).agg(sum(col("cnt")).as("est_n"))
    val slack = ids.crossJoin(broadcast(thr))
      .join(kept.select(col("day"), col("user_id"), lit(1).as("present")),
        Seq("day", "user_id"), "left")
      .groupBy(col("user_id"))
      .agg(sum(when(col("present").isNull, col("t")).otherwise(0L)).as("slack_n"))
    top10.join(broadcast(est), Seq("user_id"), "left")
      .withColumn("est_n", coalesce(col("est_n"), lit(0L)))
      .join(broadcast(slack), "user_id")
      .select(col("user_id"), col("exact_n"), col("est_n"), col("slack_n"),
        (col("est_n") <= col("exact_n")
          && col("exact_n") <= col("est_n") + col("slack_n")).as("within_bound"))
  }

  /** The oracle's replica of the summary + theorem check. */
  private def probeOracle: String =
    s"""WITH dc AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |rk AS (
       |  SELECT day, user_id, n,
       |    row_number() OVER (PARTITION BY day ORDER BY n DESC, user_id) AS rn
       |  FROM dc),
       |kept AS (SELECT day, user_id, n FROM rk WHERE rn <= ${K}),
       |thr AS (
       |  SELECT day, COALESCE(MAX(CASE WHEN rn = ${K + 1} THEN n END), 0) AS t
       |  FROM rk GROUP BY 1),
       |tot AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS exact_n
       |  FROM dc GROUP BY 1),
       |top10 AS (SELECT user_id, exact_n FROM tot
       |  ORDER BY exact_n DESC, user_id LIMIT 10),
       |est AS (
       |  SELECT t10.user_id, CAST(COALESCE(SUM(k.n), 0) AS BIGINT) AS est_n
       |  FROM top10 t10 LEFT JOIN kept k ON k.user_id = t10.user_id
       |  GROUP BY 1),
       |sl AS (
       |  SELECT t10.user_id,
       |    CAST(SUM(CASE WHEN k.user_id IS NULL THEN th.t ELSE 0 END) AS BIGINT)
       |      AS slack_n
       |  FROM top10 t10 CROSS JOIN thr th
       |  LEFT JOIN kept k ON k.day = th.day AND k.user_id = t10.user_id
       |  GROUP BY 1)
       |SELECT t10.user_id, t10.exact_n, e.est_n, s.slack_n,
       |  e.est_n <= t10.exact_n AND t10.exact_n <= e.est_n + s.slack_n
       |    AS within_bound
       |FROM top10 t10 JOIN est e ON e.user_id = t10.user_id
       |JOIN sl s ON s.user_id = t10.user_id""".stripMargin

  /** Full-span top-10 probe against the batch-built store. */
  lazy val probeQuery: GraftQuery = q("hh_store_probe", probeOracle) { (s, d) =>
    probeFrom(s, d, summaries(s, storeDir(s, d)))
  }

  /** The SAME probe against the stream-maintained, compacted store —
    * hash-equality with [[probeQuery]]'s oracle proves stream-built ≡
    * batch-built through the whole land→guard→fold→finalize pipeline. */
  lazy val maintainedProbeQuery: GraftQuery =
    q("hh_store_maintained_probe", probeOracle) { (s, d) =>
      probeFrom(s, d, summaries(s, maintainedDir(s, d)))
    }
}
