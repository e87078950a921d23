package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Queries are forced through `QueryExecution.toRdd` — a full
  * materialization of every output row — because `count()` would let
  * Catalyst prune most of the computation away. Executing the DataFrame's
  * OWN QueryExecution (rather than a noop-sink write, which plans a
  * separate QueryExecution for the write command) means the
  * QueryPlanningTracker read afterwards covers analysis + optimization +
  * physical planning of the measured plan — the r8 artifact's
  * queries_plan_ms silently covered the analysis phase only.
  */
object Bench {
  /** A full pass is "clean" when both its bracketing calibration samples
    * sit within this factor of the run's fastest sample. The within-run
    * clean band on this host is ~±5% (SCALING.md); 1.396 was the r8
    * steal that inflated the headline artifact ~30%. */
  val CleanTol = 1.10
  /** Bounded retry budget: at most this many extra full passes chasing a
    * clean bracket before the artifact is marked dirty instead. */
  val MaxExtraPasses = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.build("graft-bench", cpus.toInt)

    // full materialization of every output row, through the frame's own
    // QueryExecution (see scaladoc: keeps the planning tracker honest)
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreach(_ => ())

    // full untimed warm-up pass: execute EVERY query once so JIT, codegen
    // compilation, classloading, and page-cache priming are paid before any
    // timing starts — round-2's artifact charged 8 s of first-run JIT to
    // whichever queries happened to execute a code path first
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try exec(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }

    // best-of-N per query, reps INTERLEAVED round-robin across the whole
    // registry (rep-1 of every query, then rep-2 of every query, then a
    // rep-3 sweep over the slow tail). Back-to-back reps let one
    // multi-second CPU-steal burst land on EVERY rep of one query and
    // masquerade as a plan regression (BENCH_r05 misread three queries by
    // 4-8x that way); with ~90 s between a query's reps, a burst can
    // pollute at most one of them and the min survives.
    // per-rep (wall, process-cpu) pair: cpu is whole-JVM CPU time from the
    // OS bean, so cpu/wall exposes which reps a steal burst hit — a burst
    // inflates wall while the process's cpu stays flat, so the polluted
    // rep's ratio collapses vs the query's other reps (the per-query
    // diagnostic the run-level calibration sentinel can't localize)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // (wall s, process-cpu s, catalyst-planning ms): the third element is
    // the driver's analysis+optimization+physical-planning time from
    // QueryPlanningTracker — the regression axis the graph_hits incident
    // exposed (a 2^(2·rounds) logical plan reads as "slow query" in wall
    // time but is really exploding ANALYSIS time; tracking it per query
    // makes the next such regression observable directly). AQE's runtime
    // re-optimizations are not in the tracker; they remain part of wall.
    def rep(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double, Double) = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val planMs =
        try {
          val df = fn(spark, sfDir)
          exec(df)
          df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
        }
      spark.catalog.clearCache() // release per-query cached frames
      if (planMs >= 0)
        ((System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9, planMs)
      else (-1.0, -1.0, -1.0)
    }
    // contention sentinel: a fixed single-thread integer workload whose
    // steady time is machine-constant — timed before/between/after the
    // passes. If any calibration sample is far above the min of the four,
    // the host was stealing CPU during that window and the artifact's
    // totals (not the per-query mins) should be read with suspicion.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L; var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) System.err.println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // warm the calibration loop before the first timed sample — its own
    // JIT costs ~40% of a sample and would always read as "steal"
    calibrate()
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // per-query best rep so far (min wall; cpu/planning travel with the
    // winning rep so ratios stay meaningful per entry)
    val best = scala.collection.mutable.Map.empty[String, (Double, Double, Double)]
    def merge(n: String, r: (Double, Double, Double)): Unit =
      if (r._1 >= 0 && best.get(n).forall(_._1 > r._1)) best(n) = r
    def fullPass(): Unit = ordered.foreach { case (n, f) => merge(n, rep(n, f)) }
    // STEAL GATE (the r8 headline-artifact finding): the reported numbers
    // are min-of-reps, so ONE full pass bracketed by clean calibration
    // samples makes the whole artifact trustworthy — every query's min is
    // at most its clean-pass time. Track each full pass's bracketing
    // calibration indices; after the standard schedule, retry whole passes
    // (bounded) until some full pass is clean, else mark the artifact
    // DIRTY loudly. r8 shipped 214.8 s at steal 1.396 when the same
    // registry measured 163.6-177.4 s clean — the gate exists so a driver
    // artifact can never again misstate the engine silently.
    val passBrackets = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    calibs += calibrate()
    fullPass()
    calibs += calibrate()
    passBrackets += ((0, 1))
    fullPass()
    calibs += calibrate()
    passBrackets += ((1, 2))
    // third sweep only over queries still >= 1 s — the slow tail is where a
    // polluted rep costs the most headline seconds (partial: not a
    // clean-gate candidate)
    ordered.filter { case (n, _) => best.get(n).exists(_._1 >= 1.0) }
      .foreach { case (n, f) => merge(n, rep(n, f)) }
    calibs += calibrate()
    // Anchor = SECOND-smallest calibration sample (min with >= 4
    // samples' worth of protection): steal can only make samples SLOWER,
    // so a single anomalously FAST sample is measurement luck (boost
    // clock, cache state), not machine truth — dividing by it marked a
    // genuinely clean run dirty (every bracket 0.341-0.354, one outlier
    // 0.299). Under real persistent steal the clean samples cluster low,
    // so second-smallest ≈ smallest and detection is unchanged.
    def anchor: Double = {
      val s = calibs.sorted
      if (s.size >= 4) s(1) else s.head
    }
    def bracketRatio(b: (Int, Int)): Double =
      math.max(calibs(b._1), calibs(b._2)) / anchor
    var extra = 0
    while (passBrackets.forall(bracketRatio(_) > CleanTol) && extra < MaxExtraPasses) {
      extra += 1
      System.err.println(f"[bench] steal gate: no clean full pass yet " +
        f"(best bracket ${passBrackets.map(bracketRatio).min}%.3f) — retry pass $extra")
      val lo = calibs.size - 1
      fullPass()
      calibs += calibrate()
      passBrackets += ((lo, calibs.size - 1))
    }
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma-decimal locale would emit invalid JSON ({"value":40,800,...})
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val picked = ordered.map { case (name, _) =>
      name -> best.getOrElse(name, (-1.0, -1.0, -1.0))
    }
    val results = picked.map { case (n, (w, _, _)) => n -> w }
    val total = results.map(_._2).filter(_ >= 0).sum
    // steal_ratio: the CLEANEST full pass's bracket ratio (vs the robust
    // anchor) — the trust metric for a min-of-reps artifact (>= 1 clean
    // pass ⇒ clean mins). steal_run keeps the raw run-wide max/min for
    // full disclosure; the samples themselves are in calib_sec.
    val stealClean = passBrackets.map(bracketRatio).min
    val stealRun = if (calibs.min > 0) calibs.max / calibs.min else -1.0
    val clean = stealClean <= CleanTol
    if (!clean) System.err.println(
      s"[bench] DIRTY ARTIFACT: no full pass had a clean calibration " +
        s"bracket after $extra retries (best ${fmt(stealClean)}); totals " +
        "overstate the engine — rerun on a quiet host")
    val calibStr = calibs.map(fmt).mkString("[", ",", "]")
    def jsonLine(rs: Seq[(String, Double)]): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      // nq_shown tells parsers whether `queries` is the complete map or the
      // bounded-stdout headline subset (value/nq always cover ALL queries)
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","nq":${results.size},"nq_shown":${rs.size},"calib_sec":$calibStr,"steal_ratio":${fmt(stealClean)},"steal_run":${fmt(stealRun)},"clean":$clean,"queries":$qs,"sf":"$sfDir"}"""
    }
    // full per-query map → file (always complete), with the min-wall rep's
    // process-cpu seconds alongside each wall time (queries_cpu) — the
    // per-query steal diagnostic; stdout keeps the bounded headline shape
    val cpuMap = picked.map { case (k, (_, c, _)) => "\"" + k + "\":" + fmt(c) }
      .mkString("{", ",", "}")
    // catalyst planning milliseconds of the min-wall rep (analysis +
    // optimization + physical planning; cold-start planning cost axis)
    val planMap = picked.map { case (k, (_, _, pm)) => "\"" + k + "\":" + fmt(pm) }
      .mkString("{", ",", "}")
    val full = jsonLine(results).dropRight(1) +
      s""","queries_cpu":$cpuMap,"queries_plan_ms":$planMap}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver captures only a BOUNDED TAIL of stdout (~2000 chars) and
    // parses the JSON line out of it; a 105-query map is ~3 KB and has been
    // truncated into `parsed: null` in BENCH_r01..r03. Print a headline
    // subset (one per operator family, the expensive tail included) that is
    // guaranteed to fit; `value`/`nq` still cover ALL queries, and the full
    // map is in bench_out.json.
    val headline = Vector(
      "a1_daily_user_agg", "a2_two_level_agg", "a7_count_distinct", "a_median_p90",
      "a_salted_skew_agg", "corpus_assembly", "decontaminate", "dedup_clusters",
      "dedup_embedding_ivf", "dedup_embedding_lsh", "dedup_exact", "dedup_minhash_lsh",
      "dedup_ngram_jaccard", "dedup_simhash_pairs", "dedup_span_exact",
      "dedup_span_remove", "meter_billing_daily_incremental", "vecstore_probe_topk",
      "dsir_importance",
      "e14_json_decode", "graph_pagerank",
      "meter_billing_daily", "meter_grid_hourly", "meter_stg_readings",
      "mm_decode_stats", "mm_image_dhash", "mm_video_framehash_overlap",
      "pack_sequences", "pii_redact", "q1_pricing_summary", "q3_topk_order_revenue",
      "q5_nation_revenue", "quality_suite_dims", "range_join_bucketed",
      "scd2_asof_orders", "search_hybrid_rrf", "sessionize_events",
      "sim_bruteforce_topk", "sim_ivf_topk",
      "sim_lsh_topk", "st_ingest_960k_readings", "text_df_novelty",
      "text_fingerprint", "text_lang_id", "text_quality_score", "text_token_counts",
      "topk_customers_by_balance", "ts_gapfill", "w1_lag_delta", "w4_moving_window",
      "w5_topk_per_key_native", "w9_zscore_anomaly",
      "sim_pq_topk", "sim_ivfpq_topk", "graph_hits", "dedup_semantic_keep",
      "graph_kcore", "decontaminate_bloom",
      "graph_link_prediction", "search_index_probe", "meter_peak_coincidence",
      // r16 additions (verdict item 8 + store-probe witness) — additions
      // only; sized against the driver's 2000-char stdout tail (line 1857
      // + sbt's ~85-char success line < 2000)
      "dedup_edit_distance", "j_market_basket_pairs", "search_hybrid_multiquery"
    ).toSet
    val registered = results.map(_._1).toSet
    val orphans = headline -- registered
    require(orphans.isEmpty, s"headline names not in registry (renamed?): $orphans")
    val short = jsonLine(results.filter(r => headline.contains(r._1)))
    // budget = the driver's 2000-char stdout tail minus sbt's trailing
    // success line (~85 chars) minus slack; measured r15 line was 1767
    require(short.length <= 1870, s"headline bench line too long: ${short.length}")
    println(short)
    spark.stop()
  }
}
