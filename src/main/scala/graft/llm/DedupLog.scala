package graft.llm

import graft.GraftQuery
import graft.GraftQuery.q
import graft.ops.Tables
import graft.sources.{CubeLog, ErasureStore, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL deduplication — the [[CubeLog]] maintenance discipline on
  * the dedup surface. A 100 TB crawl pipeline does not re-dedup the
  * corpus when a 1 TB epoch lands; it dedups the EPOCH against the
  * committed state. [[Dedup]]'s batch path re-shingles, re-bands, and
  * re-pairs everything per run — correct, but its cost is corpus-sized
  * per landing. This store makes each landing delta-sized:
  *
  *  - **Signatures are the state, not text.** Each epoch lands its docs'
  *    MinHash signature rows (33 × 8 B per doc — ~0.3 % of typical doc
  *    bytes), partitioned by `sp = doc_id mod 16` so RTBF rewrites are
  *    partition-bounded. Text is never stored here and never re-read:
  *    shingling happens once, at the doc's own landing.
  *  - **Pair discovery is delta × (committed ∪ delta).** New candidates
  *    come from the delta's band frame joined against the full band
  *    frame (derived map-side from stored signatures — 8 rows per doc,
  *    an arithmetic projection, no shuffle until the band join). Every
  *    pair has a latest-landed endpoint, so the union of per-landing
  *    discoveries IS the batch pair set — committed × committed work is
  *    never redone. `dedup_incremental_clusters`' hash equality against
  *    the BATCH oracle is the proof.
  *  - **Labels are maintained as last-wins deltas.** A landing relabels
  *    only the components its new edges touch: existing (node → label)
  *    rows of affected components become virtual edges, the reduced
  *    graph (new edges ∪ virtual edges) re-resolves through
  *    [[Dedup.clusterLabelsAuto]], and ONLY those nodes get new label
  *    rows at this epoch. Readers take each node's latest row
  *    ([[labelsView]]); compaction folds the view flat. Untouched
  *    components never rewrite — the label write is sized by the merge,
  *    not the corpus.
  *
  * Replay contract: landings are replay-idempotent at or below the
  * commit watermark (the [[CubeLog]] guard) and OVERWRITE their own
  * epoch dir above it. Because a label delta depends on the state it
  * landed against, replays must be in-order — exactly what Structured
  * Streaming's foreachBatch guarantees (a failed batch N is retried
  * before N+1 ever runs; N+1's first run happens after N committed).
  *
  * Flood note: the batch path's mega-bucket guard protects a full-corpus
  * band self-join from signature-identical floods. A landing's join is
  * delta × all — a delta doc matching an N-copy committed flood costs N
  * joined rows (linear in the flood, per matching delta doc), and the
  * only quadratic term is delta × delta, bounded by the landing size the
  * cadence already controls.
  */
object DedupLog {

  /** Signature partitions per sig dir — bounds an RTBF rewrite to the
    * requested ids' partitions, [[graft.sources.MeterBronze]]'s rule. */
  val SigParts = 16L

  /** The partition count a store was landed at, persisted in an `_sp`
    * sidecar (the `_hh_k` / `_nb` discipline): sp = doc_id mod SigParts,
    * so landing epochs at two different counts into one store mixes two
    * partition layouts — each internally valid, so nothing fails until
    * an RTBF rewrite silently rewrites more (or fewer) partitions than
    * the bounded-rewrite contract states. Every landing records the
    * count and validates on mismatch. */
  def storedSigParts(s: SparkSession, dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_sp")
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p)) None
    else {
      val in = hfs.open(p)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim.toLong)
      finally in.close()
    }
  }

  private def spMismatchMsg(dir: String, stored: Long): String =
    s"dedup store $dir was landed at $stored signature partitions but " +
      s"this library partitions at doc_id mod $SigParts — landing would " +
      "mix two layouts in one store and break the bounded-rewrite " +
      "contract. Refold the store at the new count or run the library " +
      "version that landed it"

  private def persistSigParts(s: SparkSession, dir: String): Unit =
    storedSigParts(s, dir) match {
      case Some(stored) =>
        require(stored == SigParts, spMismatchMsg(dir, stored))
      case None =>
        val p = new org.apache.hadoop.fs.Path(dir, "_sp")
        val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        hfs.mkdirs(p.getParent)
        val out = hfs.create(p, true)
        try out.write(SigParts.toString.getBytes("UTF-8")) finally out.close()
    }

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val (hfs, p) = fsOf(spark, dir)
    hfs.exists(p)
  }

  /** Sig roots of the current view: committed generation + live epochs. */
  private def sigRoots(spark: SparkSession, dir: String): Seq[String] = {
    val v = CubeLog.view(spark, dir)
    (v.foldedDir.toSeq ++ v.liveBatches.map(_._2)).map(r => s"$r/sigs")
      .filter(exists(spark, _))
  }

  /** Label sources of the current view, oldest first, each tagged with
    * its last-wins epoch rank (the fold carries its watermark). */
  private def labelSources(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val v = CubeLog.view(spark, dir)
    (v.foldedDir.map(f => v.watermark -> s"$f/labels").toSeq ++
      v.liveBatches.map { case (ep, p) => ep -> s"$p/labels" })
      .filter { case (_, p) => exists(spark, p) }
  }

  /** Every stored signature row the store currently answers from (read
    * per root — sibling roots cannot share one partition-discovery pass). */
  def sigsAll(spark: SparkSession, dir: String): DataFrame = {
    val roots = sigRoots(spark, dir)
    require(roots.nonEmpty, s"empty dedup store: $dir")
    roots.map(Tables.cachedParquet(spark, _)).reduce(_ unionByName _)
      .drop("sp", "chunk_date")
  }

  /** [[sigsAll]] keeping the retention axis (chunked stores) — the fold
    * reads through this so dates survive compaction. */
  private def sigsAllRaw(spark: SparkSession, dir: String): DataFrame = {
    val roots = sigRoots(spark, dir)
    require(roots.nonEmpty, s"empty dedup store: $dir")
    roots.map(Tables.cachedParquet(spark, _)).reduce(_ unionByName _).drop("sp")
  }

  /** The maintained cluster labels: each node's row from the LATEST
    * source that assigned it (label deltas override older assignments —
    * that is the whole incremental-labels contract). */
  def labelsView(spark: SparkSession, dir: String): DataFrame = {
    val srcs = labelSources(spark, dir)
    if (srcs.isEmpty)
      return spark.emptyDataFrame
        .withColumn("node", lit(0L)).withColumn("label", lit(0L))
        .limit(0)
    srcs.map { case (ep, p) =>
      Tables.cachedParquet(spark, p).select(col("node"), col("label"), lit(ep).as("ep"))
    }.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(max_by(col("label"), col("ep")).as("label"))
  }

  private def writeSigs(sigs: DataFrame, out: String): Unit = {
    // chunked stores carry the retention axis OUTER so expiring a crawl
    // day is one directory delete per root (the DocStore.chunked layout)
    val parts =
      if (sigs.columns.contains("chunk_date")) Seq("chunk_date", "sp")
      else Seq("sp")
    sigs.withColumn("sp", pmod(col("doc_id"), lit(SigParts)))
      .repartition(parts.map(col): _*)
      .write.mode("overwrite").partitionBy(parts: _*).parquet(out)
  }

  /** Land one document epoch: store its signatures, discover the pairs
    * it creates (delta × committed ∪ delta × delta), and relabel ONLY
    * the touched components. Returns the number of new verified pairs.
    * Watermark-guarded like every cube landing. `docs` carrying a
    * `crawl_date` DATE column land calendar-chunked: stored signatures
    * ride under `chunk_date=<d>/sp=<p>` so [[expireBefore]] can drop a
    * crawl day driver-side. Pairing, labels, cadence, and RTBF are
    * identical — only the signature layout gains the axis. */
  def appendEpoch(docs: DataFrame, dir: String, batchId: Long): Long = {
    val spark = docs.sparkSession
    val chunked = CubeLog.carriesCrawlDate(docs)
    persistSigParts(spark, dir) // fail loudly BEFORE mixing two layouts
    // one store, ONE retention-axis layout: mixed sig schemas would fail
    // the unionByName of the NEXT compact/expire — fail at the landing
    CubeLog.requireLayout(spark, "dedup store", dir, sigRoots(spark, dir), chunked)
    if (CubeLog.isFolded(spark, dir, batchId)) return 0L
    CubeLog.claimEpoch(spark, dir, batchId) // single-writer guard
    val sigsD = Dedup.sigsOf(docs.select(col("doc_id"), col("text")))
      .localCheckpoint(eager = true) // landing writes + joins reuse it;
    // eager because the epoch dir it lands in is about to be overwritten
    // an empty epoch (empty micro-batch at stream start) must write
    // NOTHING: a zero-row partitioned write leaves a sigs dir holding only
    // _SUCCESS, which poisons every later schema-inferring read of the
    // store (the DocStore empty-batch trap)
    if (sigsD.isEmpty) {
      CubeLog.releaseClaim(spark, dir, batchId) // no epoch will commit
      return 0L
    }

    val epochDir = s"$dir/batch_id=$batchId"
    // a REPLAYED live landing already has its own sigs on disk — exclude
    // them from "prior" (the delta must never pair against its own twin;
    // suffix match because listed paths carry the filesystem scheme)
    val prior = sigRoots(spark, dir)
      .filterNot(_.endsWith(s"/batch_id=$batchId/sigs")) match {
      case Seq() => None
      case roots =>
        Some(roots.map(spark.read.parquet(_)).reduce(_ unionByName _)
          .drop("sp", "chunk_date"))
    }
    val toWrite =
      if (chunked) sigsD.join(
        docs.select(col("doc_id"), col("crawl_date").cast("date").as("chunk_date")),
        Seq("doc_id"))
      else sigsD
    writeSigs(toWrite, s"$epochDir/sigs")

    // ---- pair discovery: delta bands ⋈ all bands ----------------------
    val all = prior.map(_.unionByName(sigsD)).getOrElse(sigsD)
    val bandsD = Dedup.bandsOf(sigsD)
    val bandsAll = Dedup.bandsOf(all)
    val cand = bandsD.as("x")
      .join(bandsAll.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("d1"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
      .distinct()
    val newEdges = Dedup.verifyPairs(cand, all)
      .select(col("d1"), col("d2"))
      .localCheckpoint(eager = true) // read twice below; lineage reaches
    // sig dirs this landing may rewrite on a future erase
    val nNew = newEdges.count()
    if (nNew == 0L) return 0L

    // ---- incremental relabel: only components the new edges touch -----
    val old = labelsView(spark, dir).localCheckpoint(eager = true)
    val endpoints = newEdges.select(col("d1").as("node"))
      .unionByName(newEdges.select(col("d2").as("node"))).distinct()
    val affectedLabels = old.join(endpoints, Seq("node"), "left_semi")
      .select(col("label")).distinct()
    val members = old.join(affectedLabels, Seq("label"), "left_semi")
    // virtual edges (node — its component min) keep every old member of
    // an affected component in the reduced graph, so a merge relabels
    // the WHOLE component, not just the endpoint
    val reduced = newEdges
      .unionByName(members.select(col("node").as("d1"), col("label").as("d2")))
    val relabeled = Dedup.clusterLabelsAuto(reduced)
    relabeled.write.mode("overwrite").parquet(s"$epochDir/labels")
    nNew
  }

  /** Compaction cadence IN CODE (the [[graft.sources.VecStoreLog]]
    * doctrine on the dedup surface). A live epoch costs a landing no
    * extra PAIR work (the band join volume is set by bucket contents,
    * not file layout) — what grows with deferred compaction is read
    * fan-in: every landing re-opens (1 + L) signature roots and the
    * label view unions (1 + L) sources at L live epochs. Fold at
    * L ≥ [[MaxLiveEpochs]]; one directory listing, no data read. */
  val MaxLiveEpochs = 8

  def shouldCompact(spark: SparkSession, dir: String,
      maxLive: Int = MaxLiveEpochs): Boolean =
    CubeLog.view(spark, dir).liveBatches.size >= maxLive

  /** Landing with the cadence applied automatically — the streaming
    * foreachBatch path's shape. Returns the landing's new-pair count. */
  def appendEpochAuto(docs: DataFrame, dir: String, batchId: Long,
      maxLive: Int = MaxLiveEpochs): Long = {
    val n = appendEpoch(docs, dir, batchId)
    if (shouldCompact(docs.sparkSession, dir, maxLive))
      compact(docs.sparkSession, dir)
    n
  }

  /** The BATCH-REGIME landing — the small-corpus side of
    * [[Dedup.chooseMaintained]]: land the epoch's signatures exactly like
    * [[appendEpoch]], then relabel the WHOLE corpus from stored
    * signatures (one full band self-join + resolver) instead of the
    * reduced incremental relabel. Below the measured crossover the
    * incremental path's extra sequential jobs (old-view read + affected-
    * component reduction) cost more than simply re-resolving everything;
    * this leg skips them while keeping the SAME store layout, so the
    * regimes can interleave epoch by epoch as the corpus crosses the
    * boundary and every reader/eraser/fold is oblivious to which regime
    * landed which epoch. Answer-identical to [[appendEpoch]] (both
    * resolve the same pair set; DedupLogSpec pins a mixed-regime store
    * against the batch answer). Text is still never re-read — the full
    * relabel runs over stored signatures, which is what makes even the
    * batch regime cheaper here than a true from-scratch re-dedup.
    * Coverage is monotone (landings only add pairs), so a full relabel
    * at this epoch overrides every node an older epoch labeled — no
    * stale row can shadow through the last-wins view. Returns the label
    * rows written. */
  def appendEpochBatch(docs: DataFrame, dir: String, batchId: Long): Long = {
    val spark = docs.sparkSession
    persistSigParts(spark, dir)
    // the batch regime serves BOTH layouts exactly as the incremental
    // regime does: docs carrying a crawl_date land chunked, docs without
    // it land flat — and either way the landing must match the store's
    // layout, or sigsAllRaw's unionByName dies at the next compact/expire
    val chunked = CubeLog.carriesCrawlDate(docs)
    CubeLog.requireLayout(spark, "dedup store", dir, sigRoots(spark, dir), chunked)
    if (CubeLog.isFolded(spark, dir, batchId)) return 0L
    CubeLog.claimEpoch(spark, dir, batchId) // single-writer guard
    val sigsD = Dedup.sigsOf(docs.select(col("doc_id"), col("text")))
      .localCheckpoint(eager = true)
    if (sigsD.isEmpty) return 0L
    val toWrite =
      if (chunked) sigsD.join(
        docs.select(col("doc_id"),
          col("crawl_date").cast("date").as("chunk_date")), Seq("doc_id"))
      else sigsD
    writeSigs(toWrite, s"$dir/batch_id=$batchId/sigs")
    val all = sigsAll(spark, dir).localCheckpoint(eager = true)
    val labels = Dedup.clusterLabelsAuto(
      Dedup.minhashPairsFrom(all, all).select(col("d1"), col("d2")))
      .localCheckpoint(eager = true)
    val n = labels.count()
    // a pair-free corpus writes no label dir (the _SUCCESS-only poison
    // guard); older labels cannot exist either — pairs are monotone
    if (n > 0L)
      labels.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId/labels")
    n
  }

  /** [[appendEpochBatch]] with the compaction cadence applied. */
  def appendEpochBatchAuto(docs: DataFrame, dir: String, batchId: Long,
      maxLive: Int = MaxLiveEpochs): Long = {
    val n = appendEpochBatch(docs, dir, batchId)
    if (shouldCompact(docs.sparkSession, dir, maxLive))
      compact(docs.sparkSession, dir)
    n
  }

  /** Documents currently in the store (= stored signature rows) — the
    * corpus size [[Dedup.chooseMaintained]] consults per landing.
    * Parquet metadata counts only; 0 for an empty store. */
  def storedDocRows(spark: SparkSession, dir: String): Long =
    if (sigRoots(spark, dir).isEmpty) 0L
    else sigsAll(spark, dir).count()

  /** Fold: signatures merge by union (each doc lands exactly once), the
    * label view materializes flat — one generation, the read path of a
    * year of landings collapsed to two directory sets. */
  def compact(spark: SparkSession, dir: String): Long =
    CubeLog.compactFrom(spark, dir) { (_, out) =>
      // raw keeps chunk_date on chunked stores — the retention axis
      // survives the fold (it IS the expiry key)
      val sigs = sigsAllRaw(spark, dir).localCheckpoint(eager = true)
      val labels = labelsView(spark, dir).localCheckpoint(eager = true)
      writeSigs(sigs, s"$out/sigs")
      labels.write.mode("overwrite").parquet(s"$out/labels")
    }

  /** RTBF for the dedup state — signatures ARE content-derived personal
    * data (32 min-hashes of the document's own shingles), so erasing the
    * document without erasing its dedup state is not erasure. Removes
    * the ids' signature rows (partition-bounded: only their `sp=`
    * partitions rewrite) and repairs the labels of every component that
    * loses a member: surviving members re-pair among THEMSELVES (a
    * component-bounded band join over stored signatures — never the
    * corpus) and re-resolve; components that split relabel per piece;
    * members left pairless drop out of the label table, exactly as the
    * batch path over the survivor corpus would have it. Returns sig rows
    * removed. Idempotent: a replayed request finds no signature rows and
    * touches nothing. */
  def eraseDocs(spark: SparkSession, dir: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    import spark.implicits._
    // no hint here: `repairLabels` also unions these ids, and a hint off a
    // join side is dropped with a warning — each join below broadcasts it
    val req = ids.toDF("doc_id")
    var removed = 0L

    // capture the pre-erase label state (label repair needs it after sig
    // removal). `old` is EAGERLY checkpointed, so the affected-component
    // frames derived from it stay pre-erase even when computed after the
    // rewrite — they are built lazily below, only when a repair actually
    // runs (r15: a no-op replay paid two eager checkpoints it never read)
    val old = labelsView(spark, dir).localCheckpoint(eager = true)
    def members = old.join(
      old.join(broadcast(req.select(col("doc_id").as("node"))), Seq("node"), "left_semi")
        .select(col("label")).distinct(),
      Seq("label"), "left_semi")

    // ---- signature removal, partition-bounded per source --------------
    // (sp= on flat stores; (chunk_date=, sp=) composites on chunked ones)
    sigRoots(spark, dir).foreach { root =>
      val rootDf = spark.read.parquet(root)
      val chunked = rootDf.columns.contains("chunk_date")
      val slim = rootDf.select(col("doc_id"), col("sp"))
      val affected = slim.join(broadcast(req), Seq("doc_id"), "left_semi")
        .select(col("sp").cast("long")).distinct().as[Long].collect().sorted
      if (affected.nonEmpty) {
        val slice = rootDf.filter(col("sp").isin(affected: _*))
        removed += slice.join(broadcast(req), Seq("doc_id"), "left_semi").count()
        val kept = slice.join(broadcast(req), Seq("doc_id"), "left_anti")
          .localCheckpoint(eager = true)
        val (hfs, _) = fsOf(spark, root)
        if (chunked) {
          // snapshot the slice's composite partitions BEFORE the rewrite
          // deletes the files the slice plan points at
          val before = slice.select(col("chunk_date").cast("string"),
            col("sp").cast("long")).distinct().as[(String, Long)].collect()
          Store.refreshMartPartitionsBy(kept, root, Seq("chunk_date", "sp"))
          val remaining = kept.select(col("chunk_date").cast("string"),
            col("sp").cast("long")).distinct().as[(String, Long)].collect().toSet
          before.filterNot(remaining).foreach { case (d, p) =>
            hfs.delete(
              new org.apache.hadoop.fs.Path(s"$root/chunk_date=$d/sp=$p"), true)
          }
        } else {
          Store.refreshMartPartitions(kept, root, "sp")
          val remaining = kept.select(col("sp").cast("long")).distinct()
            .as[Long].collect().toSet
          affected.filterNot(remaining).foreach { p =>
            hfs.delete(new org.apache.hadoop.fs.Path(s"$root/sp=$p"), true)
          }
        }
        // a sig root fully emptied by the request must not survive as a
        // _SUCCESS-only directory — later schema-inferring reads die on it
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val anyLeft = hfs.listStatus(rootPath)
          .exists(st => st.isDirectory && (st.getPath.getName.startsWith("sp=")
            || st.getPath.getName.startsWith("chunk_date=")))
        if (!anyLeft) hfs.delete(rootPath, true)
      }
    }
    // Crash repair: signature removal and label repair are two writes; a
    // crash between them leaves labels referencing erased docs (the
    // dangling-label RTBF leak StoreCheck flags). Gating the repair on
    // removed > 0 alone would make the REPLAY of the same request skip
    // it — so the repair also runs whenever any label source still
    // mentions an erased node, which is exactly the crashed state.
    val erasedStillLabeled = old
      .join(broadcast(req.select(col("doc_id").as("node"))), Seq("node"), "left_semi")
      .limit(1).count() > 0L
    if (removed == 0L && !erasedStillLabeled) return 0L // true no-op replay

    repairLabels(spark, dir, req, members.localCheckpoint(eager = true))
    // the grace generation holds PRE-ERASE signatures and labels — purge
    // it, or the erased docs' dedup state persists until a compaction a
    // quiesced store never runs (and a torn-marker fallback serves it)
    CubeLog.purgeGraceRetained(spark, dir)
    removed
  }

  /** Label repair after signatures left the store (erase OR retention
    * expiry): re-resolve each touched component from the survivors' own
    * signatures — `req` is the removed doc ids, `members` the pre-removal
    * rows of every component a removed doc belonged to (captured BEFORE
    * the signatures went). */
  private def repairLabels(spark: SparkSession, dir: String,
      req: DataFrame, members: DataFrame): Unit = {
    val survivors = members
      .join(broadcast(req.select(col("doc_id").as("node"))), Seq("node"), "left_anti")
      .select(col("node").as("doc_id"))
    // a fully-erased store has no sig roots left — the repair then drops
    // every touched label (no survivor can pair)
    val fix =
      if (sigRoots(spark, dir).isEmpty)
        spark.emptyDataFrame.withColumn("node", lit(0L))
          .withColumn("new_label", lit(0L)).limit(0)
      else {
        val survSigs = sigsAll(spark, dir)
          .join(survivors, Seq("doc_id"), "left_semi")
          .localCheckpoint(eager = true)
        Dedup.clusterLabelsAuto(
          Dedup.minhashPairsFrom(survSigs, survSigs).select(col("d1"), col("d2")))
          .withColumnRenamed("label", "new_label")
          .localCheckpoint(eager = true)
      }

    // node-based repair (not label-based): a member's STALE row at an
    // older epoch can carry a pre-merge label outside affectedLabels, and
    // dropping only current-label rows would let the last-wins view
    // resurface it after the member's current row is removed. Every row
    // of a touched NODE is rewritten in every source: erased → dropped,
    // surviving member → the recomputed label (or dropped if pairless).
    val touchedNodes = members.select(col("node"))
      .unionByName(req.select(col("doc_id").as("node"))).distinct()
      .localCheckpoint(eager = true)
    labelSources(spark, dir).foreach { case (_, src) =>
      val cur = spark.read.parquet(src).select(col("node"), col("label"))
      val touched = cur.join(touchedNodes, Seq("node"), "left_semi")
      if (touched.limit(1).count() > 0L) {
        val untouchedRows = cur.join(touchedNodes, Seq("node"), "left_anti")
        val repaired = touched.join(fix, Seq("node"), "inner")
          .select(col("node"), col("new_label").as("label"))
        val next = untouchedRows.unionByName(repaired)
          .localCheckpoint(eager = true)
        if (next.isEmpty) {
          // every row of this source was erased/dropped: delete the dir
          // rather than writing a _SUCCESS-only poison directory
          val (hfs, p) = fsOf(spark, src)
          hfs.delete(p, true)
        } else next.write.mode("overwrite").parquet(src)
      }
    }
  }

  /** Retention on the dedup state (chunked stores only): drop every
    * signature chunk strictly BEFORE `cutoff` from every sig root on
    * disk — driver-side date-directory deletes, zero signature rows
    * rewritten — then repair the labels of every component that lost an
    * expired member (the [[eraseDocs]] repair over the post-expiry
    * survivors: splits re-resolve, keepers re-elect, pairless survivors
    * drop out — exactly the batch answer over the retained corpus).
    * Retention differs from RTBF in its bound, not its semantics: the
    * signature side is O(dropped dirs); only the label side pays a
    * rewrite, sized by the touched components. Idempotent; returns
    * date-dirs dropped. */
  def expireBefore(spark: SparkSession, dir: String, cutoff: String): Long = {
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoff must be an ISO date: $cutoff")
    val roots = sigRoots(spark, dir)
    if (roots.isEmpty) return 0L
    require(CubeLog.isChunkedRoot(spark, roots.head),
      s"dedup store $dir has no retention axis — land docs carrying " +
        "crawl_date through appendEpoch to expire by crawl date")
    // the expired ids + the pre-expiry label state, captured BEFORE the
    // drops (the slices are date-pruned reads — bounded by what expires).
    // r15: when NOTHING expires (the idempotent replay of a cutoff) the
    // label view and member capture are dead work — skip them; the
    // date-dir drop sweep below still runs (an all-empty expired slice
    // must still lose its directories)
    import spark.implicits._
    val expiredIds = roots.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .filter(col("chunk_date") < lit(cutoff).cast("date"))
      .select(col("doc_id")).distinct().localCheckpoint(eager = true)
    val hasExpired = expiredIds.limit(1).count() > 0L
    val members = if (!hasExpired) None else {
      val old = labelsView(spark, dir).localCheckpoint(eager = true)
      val affectedLabels = old
        .join(expiredIds.select(col("doc_id").as("node")), Seq("node"), "left_semi")
        .select(col("label")).distinct()
      Some(old.join(affectedLabels, Seq("label"), "left_semi")
        .localCheckpoint(eager = true))
    }

    // drop the date slices — on EVERY dir on disk (grace copies included;
    // retention is a storage policy, transient copies expire too)
    val root = new org.apache.hadoop.fs.Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var dropped = 0L
    hfs.listStatus(root)
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("batch_id=") ||
          st.getPath.getName.startsWith("folded_gen=")))
      .map(st => new org.apache.hadoop.fs.Path(st.getPath, "sigs"))
      .filter(hfs.exists)
      .foreach { sigDir =>
        hfs.listStatus(sigDir)
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("chunk_date="))
          .foreach { st =>
            val d = st.getPath.getName.stripPrefix("chunk_date=")
            if (d < cutoff) { hfs.delete(st.getPath, true); dropped += 1 }
          }
        // a sig root fully emptied by the expiry must not survive as a
        // _SUCCESS-only directory (the schema-inference poison)
        val anyLeft = hfs.listStatus(sigDir)
          .exists(st => st.isDirectory &&
            st.getPath.getName.startsWith("chunk_date="))
        if (!anyLeft) hfs.delete(sigDir, true)
      }
    if (hasExpired)
      repairLabels(spark, dir, expiredIds, members.get)
    dropped
  }

  /** The `dedup_clusters` output shape over the maintained label view. */
  def clusters(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_keeper"))
    labelsView(spark, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster_keeper"))
      .select(col("doc_id"), col("cluster_keeper"),
        count(lit(1)).over(w).as("cluster_size"),
        (col("doc_id") =!= col("cluster_keeper")).as("is_duplicate"))
  }

  // ---------------------------------------------------------------- //
  // Registered queries                                               //
  // ---------------------------------------------------------------- //

  private lazy val root: String =
    s"${sys.props("java.io.tmpdir")}/graft_dedup_log/${java.util.UUID.randomUUID()}"

  /** Land the corpus as three in-order epoch slices (doc_id mod 3 —
    * adversarial: near-dup groups span epochs, so cross-epoch pair
    * discovery and committed-component merges both fire), fold after
    * two, leave the third live. */
  private def landedStore(s: SparkSession, d: String, tag: String): String = {
    val dir = s"$root/${new java.io.File(d).getName}_$tag"
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
    val docs = Tables.documentsParallel(s, d).select(col("doc_id"), col("text"))
    (0L to 1L).foreach { e =>
      appendEpoch(docs.filter(pmod(col("doc_id"), lit(3L)) === e), dir, e)
    }
    compact(s, dir)
    appendEpoch(docs.filter(pmod(col("doc_id"), lit(3L)) === 2L), dir, 2L)
    dir
  }

  private val built = scala.collection.mutable.Map.empty[String, String]
  private def maintainedDir(s: SparkSession, d: String): String =
    built.synchronized { built.getOrElseUpdate(d, landedStore(s, d, "main")) }

  private val builtErased = scala.collection.mutable.Map.empty[String, String]
  private def erasedDir(s: SparkSession, d: String): String =
    builtErased.synchronized {
      builtErased.getOrElseUpdate(d, landedStore(s, d, "erased"))
    }

  /** The BATCH cluster query's exact oracle answered through the
    * incremental pipeline: three epoch landings (pairs discovered
    * delta-vs-committed), one fold, components merged incrementally as
    * cross-epoch duplicates arrive. Hash equality with `dedup_clusters`'
    * recursive-CTE oracle proves per-landing discovery ∪ reduced-graph
    * relabeling ≡ one batch dedup of the full corpus — the property that
    * lets a 100 TB pipeline dedup epochs instead of corpora. */
  lazy val incrementalClustersQuery: GraftQuery =
    q("dedup_incremental_clusters",
      Dedup.all.find(_.name == "dedup_clusters").get.oracle.get) { (s, d) =>
      clusters(s, maintainedDir(s, d))
    }

  private val builtExpired = scala.collection.mutable.Map.empty[String, String]
  private def expiredDir(s: SparkSession, d: String): String =
    builtExpired.synchronized {
      builtExpired.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}_expired"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val docs = Tables.documentsParallel(s, d).select(col("doc_id"), col("text"))
          .withColumn("crawl_date", date_add(lit("2026-01-01").cast("date"),
            pmod(col("doc_id"), lit(3L)).cast("int")))
        appendEpoch(docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), dir, 0L)
        compact(s, dir)
        appendEpoch(docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), dir, 1L)
        dir
      })
    }

  /** Calendar retention on the dedup state as a registered query: the
    * chunked store (three synthetic crawl days by doc_id mod 3, epochs
    * sliced mod 2 so every day spans fold AND live legs) expires its
    * first day — signature date-dirs drop driver-side, the label table
    * repairs for every component that lost an expired member — then
    * answers the cluster view. The oracle is the batch cluster fixpoint
    * over the RETAINED corpus (crawl day ≥ cutoff ⟺ doc_id % 3 ≠ 0):
    * hash equality proves splits, keeper re-election, and pairless
    * drop-out resolve exactly as a from-scratch dedup of the retained
    * corpus would. Idempotent expiry per invocation. */
  lazy val expireClustersQuery: GraftQuery =
    q("dedup_expire_clusters",
      s"""WITH RECURSIVE docs_surv AS (
         |  SELECT * FROM documents WHERE doc_id % 3 <> 0),
         |${Dedup.minhashPairsSqlCtes(from = "docs_surv")},
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
         |labeled AS (
         |  SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_keeper
         |  FROM reach GROUP BY node)
         |SELECT doc_id, cluster_keeper,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_keeper) AS BIGINT) AS cluster_size,
         |  doc_id <> cluster_keeper AS is_duplicate
         |FROM labeled""".stripMargin) { (s, d) =>
      val dir = expiredDir(s, d)
      expireBefore(s, dir, "2026-01-02")
      clusters(s, dir)
    }

  /** RTBF through the maintained dedup state as a registered query: the
    * [[ErasureStore]] request convention (doc_id ≡ 0 mod 37) erased from
    * signatures and labels, then the cluster view. The oracle is the
    * batch cluster fixpoint over the SURVIVOR corpus — hash equality
    * proves component splits, keeper re-election (an erased min-id
    * keeper's cluster relabels to its next-smallest member), and
    * pairless-survivor drop-out all resolve exactly as a from-scratch
    * dedup of the post-erase corpus would. */
  lazy val incrementalEraseQuery: GraftQuery =
    q("dedup_incremental_erase",
      s"""WITH RECURSIVE docs_surv AS (
         |  SELECT * FROM documents WHERE doc_id % 37 <> 0),
         |${Dedup.minhashPairsSqlCtes(from = "docs_surv")},
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
         |labeled AS (
         |  SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_keeper
         |  FROM reach GROUP BY node)
         |SELECT doc_id, cluster_keeper,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_keeper) AS BIGINT) AS cluster_size,
         |  doc_id <> cluster_keeper AS is_duplicate
         |FROM labeled""".stripMargin) { (s, d) =>
      val dir = erasedDir(s, d)
      val maxId = Tables.documents(s, d)
        .agg(max(col("doc_id")).cast("long")).head().getLong(0)
      eraseDocs(s, dir, ErasureStore.eraseIdsUpTo(maxId))
      clusters(s, dir)
    }
}
