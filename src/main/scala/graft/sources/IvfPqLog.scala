package graft.sources

import graft.GraftQuery
import graft.GraftQuery.q
import graft.llm.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MAINTAINED IVF-PQ (IVFADC) index: [[graft.llm.Similarity]]'s
  * billion-scale composition (coarse cells prune, residual PQ codes
  * score) under the [[CubeLog]] crash-safe generation contract — the
  * compressed-ANN twin of [[VecStoreLog]], closing the r11 asymmetry
  * where only the uncompressed cell index had a maintenance story.
  *
  * Layout under a store dir:
  *  - `batch_id=<N>/`   — live DELTA epochs: raw (vec_id, label,
  *                        embedding) rows, landed train-free with the
  *                        replay-idempotent overwrite + epoch watermark
  *                        guard ([[VecStoreLog.appendBatch]] verbatim)
  *  - `folded_gen=<G>/` — the TRAINED IVFADC generation: the same four
  *                        persisted artifacts as the build-once index
  *                        (`cells_packed`, `codebooks_packed`,
  *                        cell-partitioned `codes`, quantized `vectors`)
  *  - `_cube_commits/`  — CubeLog commit markers
  *
  * Compaction retrains EVERYTHING (coarse Lloyd + per-subspace
  * sub-codebooks over base ∪ delta residuals) via
  * [[Similarity.ivfPqTrainFramesFrom]]: PQ codebooks quantize residual
  * distributions, which drift as the corpus grows, so re-deriving them
  * at each fold is the same discipline as [[VecStoreLog]]'s √n retrain —
  * never serve codes from a codebook trained on a corpus that excludes
  * them. The fold's input is the previous generation's `vectors` frame
  * (already quantized) ∪ the delta epochs quantized on read — raw
  * embeddings never need to be re-stored in the generation.
  *
  * Mid-stream probes: the committed generation answers through the
  * normal ADC path (probed cells only — the cell is the partition key),
  * and every LIVE delta vector is scored by its EXACT l2 against each
  * query (the [[VecStoreLog]] brute-leg doctrine: fresh vectors are
  * retrievable the moment they land, with better-than-ADC fidelity, and
  * the leg's size is bounded by compaction cadence). The final top-k
  * re-ranks the folded top-k ∪ the exact delta leg — correct because
  * the overall top-k can only contain folded vectors that were already
  * in the folded top-k. `ivfpq_maintained_probe` answers the EXISTING
  * `sim_ivfpq_probe_topk` oracle through land→guard→fold→probe (training
  * over identical corpora is deterministic, so epoch slicing cannot move
  * answers); IvfPqLogSpec pins the mid-stream exact-recall contract. */
object IvfPqLog {

  /** Land one raw delta epoch (the [[VecStoreLog]] landing verbatim —
    * same guard, same multi-file sizing, the same calendar-chunked layout
    * for `embeddings` carrying `crawl_date`: raw delta epochs are
    * layout-identical across both vector stores). */
  def appendBatch(embeddings: DataFrame, dir: String, batchId: Long): Long =
    VecStoreLog.appendBatch(embeddings, dir, batchId)

  /** Coarse cells the committed generation probes out of
    * ([[Similarity]]'s fixed IVFADC geometry: k = CentroidK = 8 cells,
    * queries probe their top 3). These are the ORACLE-PINNED constants —
    * the registered queries build at them so DuckDB can replicate the
    * training; the maintained store's folds derive their geometry from
    * the corpus instead ([[coarseKFor]]/[[probeCellsFor]]/[[shortlistFor]]). */
  val ProbeCells = 3
  val CoarseK = 8

  /** The standard IVF sizing rule on the compressed index, k ≈ √n coarse
    * cells (Jégou, Douze & Schmid TPAMI 2011 §V; same rule as
    * [[VecStore.cellKFor]] on the uncompressed store — per probe the
    * coarse ranking costs O(k) and the ADC scan O(probed share of n), so
    * √n equalizes their growth), floored at the shipped [[CoarseK]]. The
    * fold derives k from the post-fold corpus count, so a store that
    * doubles per retraining cycle gets √2 more cells per cycle instead of
    * √2 more vectors per cell — the geometry rule the drift sweep showed
    * a growing deployment needs in code, not in prose. */
  def coarseKFor(n: Long): Int =
    math.max(CoarseK, math.round(math.sqrt(n.toDouble)).toInt)

  /** Probe width at coarse count `k`, holding the ≤ 25%-of-cells budget
    * at scale ([[VecStore.probeCellsFor]]'s rule), floored at the shipped
    * [[ProbeCells]] — at the pinned k = 8 geometry this is exactly the
    * oracle's 3 probed cells (3/8 share), so pinned stores probe
    * identically through the derived path. */
  def probeCellsFor(k: Int): Int =
    math.max(ProbeCells, k / 4)

  /** ADC→exact rerank depth at probe width `probeCells`: constant rerank
    * depth PER PROBED CELL (the shipped [[Similarity.PqShortlist]]/
    * [[ProbeCells]] ≈ 17 candidates each) — the ADC candidate pool grows
    * with the cells probed, and the false-positives the asymmetric
    * distance ranks ahead of true neighbors grow with that pool, so the
    * rerank window scales with it; floored at the shipped 50. */
  def shortlistFor(probeCells: Int): Int =
    math.max(Similarity.PqShortlist,
      (probeCells * Similarity.PqShortlist + ProbeCells - 1) / ProbeCells)

  /** The coarse count one committed generation was trained at: its `_ck`
    * sidecar (the `_nb`/`_hh_k` layout-constant discipline — written by
    * every fold since r15), else counted from its `cells` frame (legacy
    * generations; one k-row parquet read). */
  def storedCoarseK(spark: SparkSession, genDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(genDir, "_ck")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(p)) {
      val in = hfs.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim.toInt
      finally in.close()
    } else spark.read.parquet(s"$genDir/cells").count().toInt
  }

  private def writeCk(spark: SparkSession, genDir: String, k: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(genDir, "_ck")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(p.getParent)
    val out = hfs.create(p, true)
    try out.write(k.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Measured per-candidate cost of the EXACT delta leg relative to the
    * ADC leg (c_exact / c_adc), from the r13 delta sweep (SCALING.md) on
    * this geometry: the delta leg's 64-dim codegen'd fixed-point dot is
    * CHEAPER per candidate than the ADC leg's 8 × (array_position over
    * 32 ids + element_at) interpreted array ops, but both are dominated
    * by per-row join machinery, so the measured ratio sits near parity.
    * Pinned ≥ 1.0 deliberately: overestimating the delta's cost folds
    * EARLIER, so the probe-cost guarantee holds even if the true ratio
    * is below the measurement floor. */
  val AdcExactCostRatio = 1.0

  /** Probe-cost guarantee of the maintained store ([[VecStoreLog
    * .MaxProbeRatio]]'s doctrine on the compressed index). */
  val MaxProbeRatio = 1.3

  /** Compaction cadence IN CODE, derived from the probe-cost guarantee —
    * the [[VecStoreLog.shouldCompact]] bound with the ADC-vs-exact cost
    * ratio ρ weighting the delta leg: a maintained probe costs
    * s·B·c_adc + D·c_exact (s = probed share = [[ProbeCells]]/k, B base
    * codes, D live delta rows scored exactly per query), the all-folded
    * twin costs s·(B + D)·c_adc, so the ratio is (s + ρf)/(s(1 + f))
    * with f = D/B and ρ = c_exact/c_adc — and it exceeds r exactly when
    * f > s(r−1)/(ρ − r·s). When ρ ≤ r·s the ratio is capped at
    * ρ/s < r for ANY delta and the guarantee cannot break; the
    * budget-share floor (f ≥ s) then still forces folds so the epoch
    * file count stays bounded. Unlike the uncompressed store the fold
    * here RETRAINS sub-codebooks (residual distributions drift), so the
    * trigger is also what bounds retraining frequency: at the default
    * geometry (s = 3/8, ρ = 1, r = 1.3) it solves to f ≥ 0.22 — a fold
    * every ~22 % of corpus growth. Costs two parquet metadata counts —
    * no data read. A store with no committed generation compacts on any
    * live data (it cannot answer probes until a first fold exists). */
  /** The delta-fraction trigger f* solved from the bound (pure
    * arithmetic — IvfPqLogSpec pins both sides of the boundary through
    * the real store): capped regime (ρ ≤ r·s) falls back to the
    * budget-share floor s; otherwise min(derived, s) so the epoch file
    * count stays bounded even when the derived threshold is loose.
    * `probeShare` (s) defaults to the pinned geometry's 3/8;
    * [[shouldCompact]] passes the COMMITTED GENERATION's own share —
    * a scale-derived generation probes a smaller share of more cells,
    * which tightens f* (the exact delta leg breaks even against a
    * cheaper folded probe sooner). */
  def deltaTrigger(maxRatio: Double = MaxProbeRatio,
      costRatio: Double = AdcExactCostRatio,
      probeShare: Double = ProbeCells.toDouble / CoarseK): Double = {
    val s = probeShare
    if (costRatio <= maxRatio * s) s
    else math.min(s * (maxRatio - 1.0) / (costRatio - maxRatio * s), s)
  }

  def shouldCompact(spark: SparkSession, dir: String,
      maxRatio: Double = MaxProbeRatio,
      costRatio: Double = AdcExactCostRatio): Boolean = {
    val v = CubeLog.view(spark, dir)
    if (v.liveBatches.isEmpty) false
    else v.foldedDir match {
      case None => true
      case Some(f) =>
        val base = spark.read.parquet(s"$f/codes").count()
        val delta = spark.read.parquet(v.liveBatches.map(_._2): _*).count()
        // the generation's OWN probe share: a scale-derived fold probes
        // probeCellsFor(k)/k of its cells, not the pinned 3/8
        val k = storedCoarseK(spark, f)
        val share = probeCellsFor(k).toDouble / k
        delta.toDouble >= base.toDouble * deltaTrigger(maxRatio, costRatio, share)
    }
  }

  /** Landing with the cadence applied automatically — the streaming
    * foreachBatch landing path calls this, so the exact delta leg stays
    * bounded by code instead of operator discipline. Returns true when a
    * retraining fold ran. */
  def appendBatchAuto(embeddings: DataFrame, dir: String, batchId: Long,
      maxRatio: Double = MaxProbeRatio): Boolean = {
    val s = embeddings.sparkSession
    appendBatch(embeddings, dir, batchId)
    val fold = shouldCompact(s, dir, maxRatio)
    if (fold) compact(s, dir)
    fold
  }

  /** Encoded rows the store currently answers from (fold codes + live
    * delta epochs, read per root) — the retention receipt's audit number. */
  def storedRows(spark: SparkSession, dir: String): Long = {
    val v = CubeLog.view(spark, dir)
    val folded = v.foldedDir
      .map(f => spark.read.parquet(s"$f/codes").count()).getOrElse(0L)
    folded + v.liveBatches.map(_._2)
      .map(p => spark.read.parquet(p).count()).sum
  }

  /** Distinct vec ids the store currently answers from (fold codes ∪ live
    * epochs) — the cross-surface fsck's comparison frame. */
  def storedIds(spark: SparkSession, dir: String): DataFrame = {
    val v = CubeLog.view(spark, dir)
    val folded = v.foldedDir.map(f =>
      spark.read.parquet(s"$f/codes").select(col("vec_id")))
    val live = v.liveBatches.map(_._2).map(p =>
      spark.read.parquet(p).select(col("vec_id")))
    (folded.toSeq ++ live)
      .reduceOption(_ unionByName _)
      .map(_.distinct())
      .getOrElse(throw new IllegalArgumentException(s"empty IVF-PQ store: $dir"))
  }

  /** Lands a fold's codebook (`cells`, `cells_packed`,
    * `codebooks_packed`) and its `_ck` sidecar. The sidecar records the
    * coarse cells Lloyd TRAINED, not the k the fold asked for: a cell
    * that ends a round empty drops out, so k can exceed the trained count
    * (duplicate-heavy input, or unlucky seeds on a small corpus), and
    * probes size their width from the sidecar. */
  private def landCodebook(spark: SparkSession, dir: String, out: String,
      cents: DataFrame, cbRow: DataFrame): Unit = {
    val trained = cents.count()
    // fail BEFORE the commit marker, never after: an empty codebook
    // (training bug, empty input) would write _SUCCESS-only codes dirs
    // and commit an UNREADABLE generation — crash-before-marker leaves
    // the previous generation serving and the orphan fold swept later
    require(trained > 0L && cbRow.limit(1).count() == 1L,
      s"IVF-PQ fold over $dir trained an empty codebook — refusing to " +
        "commit an unreadable generation (is the input empty?)")
    writeCk(spark, out, trained.toInt)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$out/cells")
    Similarity.centsRow(cents).coalesce(1).write.mode("overwrite")
      .parquet(s"$out/cells_packed")
    cbRow.coalesce(1).write.mode("overwrite").parquet(s"$out/codebooks_packed")
  }

  /** Retraining compaction: fold base ∪ delta into a new IVFADC
    * generation under the CubeLog crash-safe ordering. `coarseK` defaults
    * to the √n rule over the post-fold corpus ([[coarseKFor]]); the
    * registered queries pin it to the oracle-matched [[CoarseK]] — the
    * [[VecStoreLog.compact]] convention on the compressed index. On a
    * calendar-chunked store training is identical, and both
    * cell-partitioned trees land the retention axis INNER
    * (`codes/cell=K/chunk_date=D/`, `vectors/cell=K/chunk_date=D/`) — the
    * ADC probe prunes on cell exactly as before, while expiring a crawl
    * day is bounded directory deletes on both trees. */
  def compact(spark: SparkSession, dir: String,
      coarseK: Option[Int] = None): Long =
    CubeLog.compactFrom(spark, dir) { (v, out) =>
      val axis = CubeLog.axis(CubeLog.chunkedStore(spark,
        v.foldedDir.toSeq ++ v.liveBatches.map(_._2)))
      val quantized = (Seq("vec_id", "label", "qv", "norm2") ++ axis).map(col)
      val base = v.foldedDir.map(f =>
        spark.read.parquet(s"$f/vectors").select(quantized: _*))
      val delta = v.liveBatches.map(_._2).map(p =>
        VecStore.qn(spark.read.parquet(p)
          .select((Seq("vec_id", "label", "embedding") ++ axis).map(col): _*))
          .select(quantized: _*))
      val all = (base.toSeq ++ delta).reduce(_ unionByName _)
        .localCheckpoint(eager = true) // the source dirs are swept below
      val k = coarseK.getOrElse(coarseKFor(all.count()))
      val (qe, cents, cbRow, _, codes) = Similarity.ivfPqTrainFramesFrom(
        all.select(col("vec_id"), col("label"), col("qv"), col("norm2")), k)
      landCodebook(spark, dir, out, cents, cbRow)
      val n = spark.sessionState.conf.numShufflePartitions
      val parts = "cell" +: axis
      // a chunked store's rows carry their crawl date back from the fold input
      def dated(df: DataFrame): DataFrame =
        if (axis.isEmpty) df
        else df.join(all.select((col("vec_id") +: axis.map(col)): _*), Seq("vec_id"))
      dated(codes).repartition(n, parts.map(col): _*)
        .write.mode("overwrite").partitionBy(parts: _*).parquet(s"$out/codes")
      // vectors carry their coarse cell and partition by it, so an RTBF
      // rewrite touches only affected cell dirs on BOTH trees (the cell
      // IS the bucket — the ErasureStore discipline on the ANN axis)
      dated(qe.join(codes.select(col("vec_id"), col("cell")), Seq("vec_id")))
        .repartition(n, parts.map(col): _*)
        .write.mode("overwrite").partitionBy(parts: _*).parquet(s"$out/vectors")
    }

  /** Retention on the compressed index: drop every chunk strictly BEFORE
    * `cutoff` from every root on disk — live epochs, both generation
    * trees (`codes` and `vectors`), grace copies. Driver-side directory
    * deletes, zero rows read; codebooks stay (retrained at the next
    * fold); refuses to empty the committed generation. Idempotent;
    * returns dirs dropped. */
  def expireBefore(spark: SparkSession, dir: String, cutoff: String): Long = {
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoff must be an ISO date: $cutoff")
    val root = new org.apache.hadoop.fs.Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(root)) return 0L
    val v = CubeLog.view(spark, dir)
    (v.foldedDir.toSeq ++ v.liveBatches.map(_._2)).headOption.foreach { r =>
      require(CubeLog.isChunkedRoot(spark, r),
        s"IVF-PQ store $dir has no retention axis — land embeddings " +
          "carrying crawl_date through appendBatch to expire by crawl date")
    }
    // refuse a cutoff that would leave the serving state empty — the
    // committed generation's code tree, or the live epochs of a
    // never-folded store (same guard shape as VecStoreLog)
    VecStoreLog.requireSurvivor(spark, dir, v, cutoff, "codes")
    VecStoreLog.expireDateDirs(hfs, root, cutoff)
  }

  /** Probe the maintained store: ADC over the committed generation's
    * probed cells ∪ exact-l2 over the live delta, re-ranked together.
    * `queryVecs` (vec_id, qv, norm2) decouples the query set from the
    * stored vectors — the RTBF probe passes it explicitly, since erased
    * vectors leave the store but not the right to query near them. */
  def probeTopK(s: SparkSession, dir: String,
      queryVecs: Option[DataFrame] = None): DataFrame = {
    val v = CubeLog.view(s, dir)
    require(v.foldedDir.nonEmpty,
      s"maintained IVF-PQ store $dir has no committed generation — compact first")
    val f = v.foldedDir.get
    val vecs = graft.ops.Tables.cachedParquet(s, s"$f/vectors")
    // the generation's OWN geometry drives the probe: a pinned k = 8 fold
    // probes the oracle's 3 cells / 50-deep rerank exactly; a
    // scale-derived fold probes probeCellsFor(k) cells with the
    // proportionally deeper shortlist
    val k = storedCoarseK(s, f)
    val pc = probeCellsFor(k)
    val folded = Similarity.ivfPqProbeFrom(
      graft.ops.Tables.cachedParquet(s, s"$f/cells_packed"),
      graft.ops.Tables.cachedParquet(s, s"$f/codebooks_packed"),
      graft.ops.Tables.cachedParquet(s, s"$f/codes"),
      vecs, queryVecs, probeCells = pc, shortlist = shortlistFor(pc))
    v.liveBatches.map(_._2) match {
      case Seq() => folded
      case deltaDirs =>
        val queries = queryVecs.getOrElse(vecs.filter(col("vec_id") % 50 === 0))
          .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
            col("norm2").as("qnorm2"))
        val delta = VecStore.qn(graft.ops.Tables.cachedParquet(s, deltaDirs: _*)
          .select(col("vec_id"), col("label"), col("embedding")))
        // exact l2 = ‖q‖² − 2·q·x + ‖x‖²; adc_dist carries the same value
        // (for a live vector the "approximate" distance IS exact)
        val deltaLeg = delta.as("b")
          .join(broadcast(queries.as("a")),
            col("b.vec_id") =!= col("a.query_id"))
          .select(col("a.query_id"), col("b.vec_id"), col("b.label"),
            (col("a.qnorm2")
              - lit(2) * graft.functions.FixedPointDot(col("a.qqv"), col("b.qv"))
              + col("b.norm2")).as("l2_dist"))
          .select(col("query_id"), col("vec_id"), col("label"),
            col("l2_dist").as("adc_dist"), col("l2_dist"))
        import org.apache.spark.sql.expressions.Window
        folded.drop("rank").unionByName(deltaLeg)
          .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("l2_dist"), col("vec_id"))))
          .filter(col("rank") <= Similarity.PqTopK)
    }
  }

  /** RTBF for the compressed index — the governance symmetry with
    * [[VecStoreLog.eraseByIds]] (a PQ code is a derivative of the erased
    * embedding just like the raw vector is; both must go). Live epochs:
    * the shared raw-epoch rewrite. Committed generation: the affected
    * cells are found from a scan of `codes` pruned to its two cheapest
    * columns, then BOTH trees (`codes` and the cell-partitioned
    * `vectors`) rewrite only those `cell=` partitions; fully-emptied cell
    * dirs are deleted explicitly. Codebooks are NOT retrained (k coarse
    * aggregates + 256 sub-centroids over the corpus — no vector is
    * recoverable from them; the next compaction retrains over the
    * post-erase corpus anyway). Idempotent by replay. Returns stored
    * rows removed (delta rows + folded vectors; codes rows ride along). */
  def eraseByIds(spark: SparkSession, dir: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    import spark.implicits._
    val req = broadcast(ids.toDF("vec_id"))
    val v = CubeLog.view(spark, dir)
    var removed = VecStoreLog.eraseFromLiveEpochs(spark, v, req)
    v.foldedDir.foreach { f =>
      val hfs = new org.apache.hadoop.fs.Path(f)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (CubeLog.isChunkedRoot(spark, f)) {
        // chunked generation: the rewrite unit is the affected
        // (cell, chunk_date) COMPOSITE on BOTH trees (codes and vectors
        // partition identically — same rows, same keys); rewriting whole
        // affected cells would churn every other crawl day of those
        // cells. Composites found once on the codes tree (its two partition
        // columns + vec_id — the cheapest scan), then both trees rewrite.
        val affComp = graft.ops.Tables.cachedParquet(spark, s"$f/codes")
          .select(col("vec_id"), col("cell"), col("chunk_date"))
          .join(req, Seq("vec_id"), "left_semi")
          .select(col("cell").cast("long"), col("chunk_date").cast("string"))
          .distinct().as[(Long, String)].collect().sorted
        if (affComp.nonEmpty) {
          val cond = affComp.map { case (c, dd) =>
            col("cell") === c && col("chunk_date") === lit(dd).cast("date")
          }.reduce(_ || _) // partition predicates only — pruned at listing
          Seq("codes", "vectors").foreach { sub =>
            val path = s"$f/$sub"
            val slice = graft.ops.Tables.cachedParquet(spark, path).filter(cond)
            if (sub == "vectors")
              removed += slice.join(req, Seq("vec_id"), "left_semi").count()
            val kept = slice.join(req, Seq("vec_id"), "left_anti")
              .localCheckpoint(eager = true)
            Store.refreshMartPartitionsBy(kept, path, Seq("cell", "chunk_date"))
            val remaining = kept.select(col("cell").cast("long"),
                col("chunk_date").cast("string")).distinct()
              .as[(Long, String)].collect().toSet
            affComp.filterNot(remaining).foreach { case (c, dd) =>
              hfs.delete(
                new org.apache.hadoop.fs.Path(s"$path/cell=$c/chunk_date=$dd"), true)
            }
            affComp.map(_._1).distinct.foreach { c =>
              val cellDir = new org.apache.hadoop.fs.Path(s"$path/cell=$c")
              if (hfs.exists(cellDir) && !hfs.listStatus(cellDir).exists(st =>
                st.isDirectory && st.getPath.getName.startsWith("chunk_date=")))
                hfs.delete(cellDir, true)
            }
          }
        }
      } else {
        val affected = graft.ops.Tables.cachedParquet(spark, s"$f/codes")
          .select(col("vec_id"), col("cell"))
          .join(req, Seq("vec_id"), "left_semi")
          .select(col("cell").cast("long")).distinct().as[Long].collect().sorted
        if (affected.nonEmpty) {
          Seq("codes", "vectors").foreach { sub =>
            val path = s"$f/$sub"
            val slice = graft.ops.Tables.cachedParquet(spark, path)
              .filter(col("cell").isin(affected: _*))
            if (sub == "vectors")
              removed += slice.join(req, Seq("vec_id"), "left_semi").count()
            val kept = slice.join(req, Seq("vec_id"), "left_anti")
              .localCheckpoint(eager = true)
            Store.refreshMartPartitions(kept, path, "cell")
            val remaining = kept.select(col("cell").cast("long")).distinct()
              .as[Long].collect().toSet
            affected.filterNot(remaining).foreach { c =>
              hfs.delete(new org.apache.hadoop.fs.Path(s"$path/cell=$c"), true)
            }
          }
        }
      }
    }
    // the grace generation holds PRE-ERASE codes and quantized vectors —
    // purge it, or erased embeddings' derivatives persist until a
    // compaction a quiesced store never runs
    CubeLog.purgeGraceRetained(spark, dir)
    removed
  }

  private lazy val root: String =
    s"${sys.props("java.io.tmpdir")}/graft_ivfpq_log/${java.util.UUID.randomUUID()}"
  private val built = scala.collection.mutable.Map.empty[String, String]
  private def maintainedDir(s: SparkSession, d: String): String =
    built.synchronized {
      built.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val emb = graft.ops.Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
        (0L to 2L).foreach { epoch =>
          appendBatch(emb.filter(pmod(col("vec_id"), lit(3L)) === epoch),
            dir, epoch)
        }
        compact(s, dir, Some(CoarseK)) // oracle-pinned geometry
        // replay of a folded epoch: the watermark guard must no-op —
        // exactly-once across the compaction, asserted on every build
        require(appendBatch(
          emb.filter(pmod(col("vec_id"), lit(3L)) === 1L), dir, 1L) == 0L,
          s"maintained IVF-PQ store $dir accepted a replay of a folded epoch")
        dir
      })
    }

  /** The maintained IVF-PQ loop oracle-gated: the corpus lands as three
    * train-free epochs, one retraining fold commits the generation, the
    * probe answers the build-once index's EXACT oracle — epoch slicing
    * and the maintenance machinery cannot move answers. Cites the
    * reference's batch-rebuild analytics loop (dbt `run` over
    * models/marts, smart_meter_data_pipeline dbt/) re-expressed as an
    * incremental index the way a crawl pipeline needs it. */
  lazy val maintainedProbeQuery: GraftQuery =
    q("ivfpq_maintained_probe", Similarity.ivfPqOracle) { (s, d) =>
      probeTopK(s, maintainedDir(s, d))
    }

  private val builtErased = scala.collection.mutable.Map.empty[String, String]
  private def erasedDir(s: SparkSession, d: String): String =
    builtErased.synchronized {
      builtErased.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}_erased"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val emb = graft.ops.Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
        (0L to 2L).foreach { epoch =>
          appendBatch(emb.filter(pmod(col("vec_id"), lit(3L)) === epoch),
            dir, epoch)
        }
        compact(s, dir, Some(CoarseK)) // oracle-pinned geometry
        dir
      })
    }

  /** RTBF on the compressed index driven end-to-end as a registered
    * query: the all-folded store with the [[ErasureStore]] deletion
    * request replayed per invocation (idempotent — bench reps re-drive
    * the pruned rewrite). The oracle trains over the FULL corpus and
    * filters only the encoded rows (`vec_id % 37 <> 0` survivors), so
    * hash equality proves the targeted cell rewrite removed exactly the
    * requested vectors from codes AND vectors and nothing else — the
    * query set deliberately keeps erased ids (the right to query
    * survives the erasure). */
  lazy val eraseProbeQuery: GraftQuery =
    q("ivfpq_erase_probe", Similarity.ivfPqOracleFor("vec_id % 37 <> 0")) { (s, d) =>
      val dir = erasedDir(s, d)
      val emb = graft.ops.Tables.embeddings(s, d)
      val maxId = emb.agg(max(col("vec_id")).cast("long")).head().getLong(0)
      eraseByIds(s, dir, ErasureStore.eraseIdsUpTo(maxId))
      val queries = VecStore.qn(emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("label"), col("embedding")))
        .select(col("vec_id"), col("qv"), col("norm2"))
      probeTopK(s, dir, Some(queries))
    }

  private val builtExpired = scala.collection.mutable.Map.empty[String, String]
  private def expiredDir(s: SparkSession, d: String): String =
    builtExpired.synchronized {
      builtExpired.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}_expired"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val emb = VecStoreLog.withCrawlDates(
          graft.ops.Tables.embeddingsParallel(s, d)
            .select(col("vec_id"), col("label"), col("embedding")))
        (0L to 2L).foreach { epoch =>
          appendBatch(emb.filter(pmod(col("vec_id"), lit(3L)) === epoch),
            dir, epoch)
        }
        compact(s, dir, Some(CoarseK)) // oracle-pinned geometry
        dir
      })
    }

  /** Calendar retention on the compressed index as a registered query —
    * the PQ-code half of the r13 verdict's top item (an expired crawl
    * day's codes and quantized vectors stayed ADC-servable): the chunked
    * store folds over the FULL corpus (codebooks train pre-expiry — expiry
    * never retrains, the eraseByIds doctrine), then its first crawl day
    * expires: bounded directory drops on BOTH generation trees, zero rows
    * rewritten. The oracle trains over the full corpus and filters only
    * the encoded rows to the survivor set (crawl day ≥ cutoff ⟺
    * vec_id % 3 ≠ 0), with the query set deliberately unfiltered — hash
    * equality proves expired codes score in no ADC shortlist, expired
    * vectors rerank nowhere, and surviving distances re-derive exactly.
    * Idempotent expiry per invocation. */
  lazy val expireProbeQuery: GraftQuery =
    q("ivfpq_expire_probe", Similarity.ivfPqOracleFor("vec_id % 3 <> 0")) { (s, d) =>
      val dir = expiredDir(s, d)
      expireBefore(s, dir, "2026-01-02")
      val emb = graft.ops.Tables.embeddings(s, d)
      val queries = VecStore.qn(emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("label"), col("embedding")))
        .select(col("vec_id"), col("qv"), col("norm2"))
      probeTopK(s, dir, Some(queries))
    }
}
