package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental CROSS-BATCH corpus dedup: append only never-seen documents
  * and maintain a compact content-hash index alongside the landed corpus —
  * the production shape for continuous ingestion, where each arriving
  * batch must dedup against the WHOLE history without rescanning it.
  *
  *   baseDir/docs/        the landed, deduplicated corpus (batch_id-partitioned)
  *   baseDir/hash_index/  one row per landed content hash (batch_id-partitioned)
  *
  * Exactly-once under at-least-once delivery: both writes are
  * batch_id-partitioned DYNAMIC OVERWRITES (same idiom as
  * `Ingest.startIngestWithQuarantine`), so a replayed batch — including a
  * crash between the docs write and the index write — REWRITES its own
  * partition with identical rows instead of appending duplicates. The
  * caller must supply a stable per-batch id (foreachBatch's batchId);
  * distinct batches must use distinct ids.
  *
  * Scale design: the per-batch work is (batch in-dedup) + one left-anti
  * join of the batch against the index — never against the corpus text.
  * The index is hashes only (~32 B/doc vs KBs of text), so at 100 TB of
  * corpus the index is ~3 orders of magnitude smaller; bucketing it by
  * hash (Store-style bucketBy) would make the anti-join co-located and
  * shuffle-free on the index side.
  *
  * The single-corpus batch twin is `dedup_exact`; the bounded-horizon
  * streaming twin is [[graft.streaming.DocStream.curate]]. This is the
  * third regime: unbounded history, batch arrivals.
  */
object DocStore {

  /** Land `docs` (doc_id, text, ...) minus already-seen content under the
    * given stable batch id. Returns the number of newly landed documents. */
  def appendDeduped(spark: SparkSession, docs: DataFrame, baseDir: String,
      batchId: Long): Long =
    appendDedupedLanded(spark, docs, baseDir, batchId)
      .map(_.count()).getOrElse(0L) // already localCheckpointed — cheap

  /** [[appendDeduped]] returning the landed slice itself (None when the
    * batch landed nothing) — [[graft.streaming.DocStream.startIndexedIngest]]
    * feeds the SAME rows to the posting/dedup stores, so the derived
    * surfaces can never index a document the bronze rejected as a
    * re-crawl. The frame is already materialized (localCheckpoint).
    *
    * `docs` carrying a `crawl_date` DATE column land calendar-chunked:
    * both trees partition by (chunk_date, batch_id) — see the layout note
    * at [[expireBefore]] — and a replayed batch rewrites exactly its own
    * (date, batch) composites. One bronze keeps one layout: a landing
    * that disagrees with the landed docs tree fails before writing
    * anything ([[CubeLog.requireLayout]]) — a flat landing would miss the
    * chunked hash index and land every history duplicate again. */
  def appendDedupedLanded(spark: SparkSession, docs: DataFrame,
      baseDir: String, batchId: Long): Option[DataFrame] = {
    val docsPath = s"$baseDir/docs"
    val indexPath = s"$baseDir/hash_index"
    val chunked = CubeLog.carriesCrawlDate(docs)
    CubeLog.requireLayout(spark, "doc store", baseDir,
      Seq(docsPath).filter(landedTree(spark, _)), chunked)
    val parts = CubeLog.axis(chunked) :+ "batch_id"

    // a document with no content is rejected, not landed: md5(null) is
    // null, and a null hash would never match itself in the anti-join —
    // one null-text row per batch would re-land forever
    val withHash0 = docs.filter(col("text").isNotNull)
    val withHash =
      if (chunked) withHash0.withColumn("chunk_date", col("crawl_date").cast("date"))
      else withHash0
    // reuse the hash when the caller (e.g. DocStream.curate) already
    // computed it — document bodies are the expensive thing to hash twice
    val hashed0 =
      if (withHash.columns.contains("content_hash")) withHash
      else withHash.withColumn("content_hash", md5(col("text")))

    // in-batch dedup (keep min doc_id per hash — deterministic under
    // replay), then history dedup via the index
    val hashed = hashed0
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")

    val indexed =
      if (chunked) chunkedExists(spark, indexPath) else indexExists(spark, indexPath)
    val fresh0 =
      if (indexed) {
        val seen = spark.read.parquet(indexPath).select(col("content_hash"))
        hashed.join(seen, Seq("content_hash"), "left_anti")
      } else hashed

    // materialize BEFORE touching the index path: the anti-join reads the
    // same files the index overwrite below rewrites ("Cannot overwrite a
    // path that is also being read from" — same trap as Store.compactChunk)
    val fresh = fresh0.withColumn("batch_id", lit(batchId))
      .localCheckpoint(eager = true)

    // an empty batch (empty micro-batch at stream start, all rows null-text,
    // or a full replay) must write NOTHING: a dynamic overwrite of zero rows
    // still creates the target directory with only _SUCCESS, after which
    // indexExists says true and the next batch's parquet read fails with
    // "Unable to infer schema" — a poisoned store until manual cleanup
    val landed = fresh.count()
    if (landed == 0L) return None

    // dynamic overwrite: a partial-failure replay rewrites batch_id=N with
    // the same rows instead of appending duplicates
    fresh.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*).parquet(docsPath)
    fresh.select((col("content_hash") +: parts.map(col)): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*).parquet(indexPath)
    Some(fresh)
  }

  /** Incremental cross-batch NEAR-dedup: land only documents that are not
    * MinHash-near-duplicates (estimated Jaccard ≥ `threshold`) of anything
    * already landed — the fuzzy twin of [[appendDeduped]], and the shape
    * of a production de-duplicating crawl (each arriving batch is checked
    * against the WHOLE history without ever rescanning history text).
    *
    * Index: `baseDir/sig_index/` holds, per landed document, its 8 LSH
    * band rows `(band, key, doc_id, sig)` — the 32-long MinHash signature
    * is denormalized onto each band row so the candidate probe and the
    * similarity verification are ONE equi-join on (band, key) with a
    * map-side signature compare; no second join back to a signature
    * table. ~2 KB/doc — orders of magnitude under the text, and the only
    * thing a new batch ever joins against.
    *
    * Semantics (deterministic under any partitioning):
    *   - in-batch: for every near-dup pair (d1 < d2) the larger doc_id is
    *     dropped — conservative pair-drop, may over-drop chains A~B~C
    *     relative to greedy-keep, never under-drops;
    *   - cross-batch: a document matching ANY landed band bucket with
    *     ≥ `threshold` estimated Jaccard is dropped.
    * A replayed batch self-matches its landed twin at est-Jaccard 1.0, so
    * replays land nothing; a crash between the docs and index writes is
    * repaired by the same batch_id dynamic-overwrite idiom as
    * [[appendDeduped]]. Returns the number of newly landed documents. */
  def appendNearDeduped(spark: SparkSession, docs: DataFrame, baseDir: String,
      batchId: Long, threshold: Double = 0.5): Long = {
    import graft.llm.TextHash
    val docsPath = s"$baseDir/docs"
    val sigPath = s"$baseDir/sig_index"
    val nBands = TextHash.NumHashes / TextHash.BandRows
    val minMatches = math.ceil(TextHash.NumHashes * threshold).toLong

    val sigs = docs.filter(col("text").isNotNull)
      .withColumn("sig",
        graft.functions.MinHashSigs(TextHash.shingleHashArray(col("text"))))

    // 8 band rows per doc; key = base-31 fold of the band's 4 sig values
    // (identical arithmetic to the batch dedup_minhash_lsh operator)
    def bandStructs = array((0 until nBands).map { b =>
      val key = (1 until TextHash.BandRows).foldLeft(
        element_at(col("sig"), b * TextHash.BandRows + 1)) {
        (acc, r) => acc * 31 + element_at(col("sig"), b * TextHash.BandRows + r + 1)
      }
      struct(lit(b).as("band"), key.as("key"))
    }: _*)
    def explodeBands(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("sig"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))

    // exact integer match count between two signatures (≥ minMatches ⇔
    // estimated Jaccard ≥ threshold — no float boundary)
    def sigMatches(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)

    val batchBands = explodeBands(sigs).localCheckpoint(eager = false)

    // in-batch pair-drop: bucket-join candidates only, then verify
    val inDup = batchBands.as("x")
      .join(batchBands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(sigMatches(col("x.sig"), col("y.sig")) >= minMatches)
      .select(col("y.doc_id").as("dup_id")).distinct()

    // cross-batch: probe the landed band index, verify on the stored sig
    val histDup =
      if (indexExists(spark, sigPath)) {
        val idx = spark.read.parquet(sigPath)
          .select(col("band"), col("key"), col("sig").as("hist_sig"))
        batchBands
          .join(idx, Seq("band", "key"))
          .filter(sigMatches(col("sig"), col("hist_sig")) >= minMatches)
          .select(col("doc_id").as("dup_id")).distinct()
      } else inDup.limit(0)

    val fresh = sigs
      .join(inDup.union(histDup).distinct(), col("doc_id") === col("dup_id"), "left_anti")
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint(eager = true) // materialize before touching the index path
    val landed = fresh.count()
    if (landed == 0L) return 0L // never write _SUCCESS-only partitions

    fresh.drop("sig").write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(docsPath)
    explodeBands(fresh.select(col("doc_id"), col("sig")))
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(sigPath)
    landed
  }

  /** Compact the hash index: thousands of landed batches mean thousands
    * of tiny batch_id partitions (the same small-file decay
    * `Store.compactChunk` repairs on bronze). All hashes are folded into
    * the reserved history partition `batch_id = -1`, then the per-batch
    * partitions are dropped. On a calendar-chunked index each date folds
    * into its own `chunk_date=<d>/batch_id=-1` — the date axis survives
    * compaction (it IS the retention key), only the per-batch
    * fragmentation goes.
    *
    * Crash-safe and idempotent: the fold is written first (dynamic
    * overwrite of the -1 partition only), deletes happen after. A crash
    * between the two leaves some hashes present twice — harmless, the
    * anti-join tests existence, not multiplicity — and a re-run converges.
    * Replays of pre-compaction batches stay exactly-once: their hashes
    * are still in the index, so the anti-join lands nothing and no
    * partition is touched.
    *
    * Concurrent ingest is safe because the partition list is SNAPSHOTTED
    * first: the fold reads exactly the snapshotted partitions and the
    * delete removes exactly those — a batch that lands while the fold is
    * running is neither folded nor deleted, just left for the next
    * compaction. (Listing, folding, then re-listing for the delete would
    * drop such a batch's hashes without folding them — content could
    * re-land later, silently breaking exactly-once.) Returns the
    * compacted hash count. */
  def compactIndex(spark: SparkSession, baseDir: String): Long = {
    val indexPath = s"$baseDir/hash_index"
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val chunked = CubeLog.isChunkedRoot(spark, indexPath)
    // the fold units: each date dir of a chunked index, the whole flat one
    val units: Seq[(org.apache.hadoop.fs.Path, Option[String])] =
      if (!chunked) Seq(p -> None)
      else fs.listStatus(p).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("chunk_date="))
        .map(st => st.getPath -> Some(st.getPath.getName.stripPrefix("chunk_date=")))
    var total = 0L
    units.foreach { case (unit, date) =>
      // snapshot: the per-batch partitions to fold AND later delete
      val snapshot = fs.listStatus(unit)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id=")
          && st.getPath.getName != "batch_id=-1")
        .map(_.getPath)
      if (snapshot.nonEmpty) { // else nothing to fold; leave -1 as-is
        // fold = snapshotted partitions ∪ the existing history partition
        val historyDir = new org.apache.hadoop.fs.Path(unit, "batch_id=-1")
        val foldDirs = (if (fs.exists(historyDir)) snapshot :+ historyDir else snapshot)
          .map(_.toString)
        val hashes = spark.read.option("basePath", indexPath)
          .parquet(foldDirs: _*)
          .select(col("content_hash")).distinct()
        val folded = date.fold(hashes)(d => hashes.withColumn("chunk_date", lit(d).cast("date")))
          .withColumn("batch_id", lit(-1L))
          // materialize before rewriting the directory being read
          .localCheckpoint(eager = true)
        folded.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(CubeLog.axis(chunked) :+ "batch_id": _*).parquet(indexPath)
        snapshot.foreach(dir => fs.delete(dir, true))
        total += folded.count()
      }
    }
    total
  }

  /** RTBF for the bronze corpus + its content-derived indexes: remove the
    * requested doc_ids' rows from the `docs` tree, their content hashes
    * from `hash_index` (exact-dedup stores), and their MinHash band rows
    * from `sig_index` (near-dedup stores built by [[appendNearDeduped]] —
    * a signature is as content-derived as the hash, and leaving it would
    * keep re-submitted content suppressed by a document that no longer
    * exists) — batch-partition-bounded on every tree (a 2-column pruned
    * scan finds the affected `batch_id=` partitions, including the
    * compacted `-1` history partition; only those rewrite, every other
    * partition stays byte-identical). The indexes come off because
    * md5/MinHash of content are content-derived personal data; semantics
    * follow: erasure removes the doc AND its suppression state, so a
    * later re-submission of the same content is a NEW landing (a new
    * consent event), not a suppressed duplicate. Returns doc rows
    * removed. Idempotent AND crash-repairable by replaying the SAME
    * request: the hash INDEX rewrites FIRST, because the doc rows are the
    * only source of the erased hashes — were the docs rewritten first, a
    * crash between the two writes would leave hashes whose documents no
    * longer exist and no way to find them (the pre-r12 order). The sig
    * index is keyed by doc_id — the request itself — so its rewrite is
    * replay-repairable in any order. Index-first, a crash leaves doc rows
    * that re-derive the hashes on replay; the transient window where
    * content is unsuppressed-but-present closes at the replay, in the
    * direction erasure law prefers. */
  def eraseDocs(spark: SparkSession, baseDir: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    import spark.implicits._
    val docsPath = s"$baseDir/docs"
    val indexPath = s"$baseDir/hash_index"
    val sigPath = s"$baseDir/sig_index"
    val req = broadcast(ids.toDF("doc_id"))
    // calendar-chunked bronzes partition BOTH trees by (chunk_date,
    // batch_id) — their rewrite must keep the axis (a batch_id-only
    // dynamic overwrite would write a CONFLICTING flat layout beside the
    // chunked one); dispatched to the composite rewrite
    if (CubeLog.isChunkedRoot(spark, docsPath))
      return eraseDocsChunked(spark, baseDir, req)

    val slim = spark.read.parquet(docsPath).select(col("doc_id"), col("batch_id"))
    val affected = slim.join(req, Seq("doc_id"), "left_semi")
      .select(col("batch_id").cast("long")).distinct().as[Long].collect().sorted
    if (affected.isEmpty) return 0L
    val slice = spark.read.parquet(docsPath)
      .filter(col("batch_id").isin(affected: _*))
    val hits = slice.join(req, Seq("doc_id"), "left_semi")
      .localCheckpoint(eager = true)
    val removed = hits.count()
    val keptDocs = slice.join(req, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = true)
    val hfs = new org.apache.hadoop.fs.Path(docsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // step 1a — the hash index: the erased hashes' partitions (possibly
    // the compacted -1 history) rewrite minus those hashes. Near-dedup
    // bronzes carry no content_hash column and no hash index — skipped.
    if (indexExists(spark, indexPath) && hits.columns.contains("content_hash")) {
      val goneHashes = broadcast(
        hits.select(col("content_hash")).distinct().localCheckpoint(eager = true))
      val idxSlim = spark.read.parquet(indexPath)
        .select(col("content_hash"), col("batch_id"))
      val idxAffected = idxSlim.join(goneHashes, Seq("content_hash"), "left_semi")
        .select(col("batch_id").cast("long")).distinct().as[Long].collect().sorted
      if (idxAffected.nonEmpty) {
        val idxSlice = spark.read.parquet(indexPath)
          .filter(col("batch_id").isin(idxAffected: _*))
        val keptIdx = idxSlice.join(goneHashes, Seq("content_hash"), "left_anti")
          .localCheckpoint(eager = true)
        Store.refreshMartPartitions(keptIdx, indexPath, "batch_id")
        val remainingIdx = keptIdx.select(col("batch_id").cast("long"))
          .distinct().as[Long].collect().toSet
        idxAffected.filterNot(remainingIdx).foreach { b =>
          hfs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/batch_id=$b"), true)
        }
      }
    }

    // step 1b — the MinHash band index of a near-dedup bronze: doc_id
    // keys the band rows directly, so the pruned rewrite is the standard
    // affected-partition shape
    if (indexExists(spark, sigPath)) {
      val sigSlim = spark.read.parquet(sigPath).select(col("doc_id"), col("batch_id"))
      val sigAffected = sigSlim.join(req, Seq("doc_id"), "left_semi")
        .select(col("batch_id").cast("long")).distinct().as[Long].collect().sorted
      if (sigAffected.nonEmpty) {
        val sigSlice = spark.read.parquet(sigPath)
          .filter(col("batch_id").isin(sigAffected: _*))
        val keptSig = sigSlice.join(req, Seq("doc_id"), "left_anti")
          .localCheckpoint(eager = true)
        Store.refreshMartPartitions(keptSig, sigPath, "batch_id")
        val remainingSig = keptSig.select(col("batch_id").cast("long"))
          .distinct().as[Long].collect().toSet
        sigAffected.filterNot(remainingSig).foreach { b =>
          hfs.delete(new org.apache.hadoop.fs.Path(s"$sigPath/batch_id=$b"), true)
        }
      }
    }

    // step 2 — the docs themselves
    Store.refreshMartPartitions(keptDocs, docsPath, "batch_id")
    // a batch partition fully emptied by the request writes nothing under
    // dynamic overwrite — delete it explicitly
    val remainingDocs = keptDocs.select(col("batch_id").cast("long"))
      .distinct().as[Long].collect().toSet
    affected.filterNot(remainingDocs).foreach { b =>
      hfs.delete(new org.apache.hadoop.fs.Path(s"$docsPath/batch_id=$b"), true)
    }
    removed
  }

  /** RTBF on the calendar-chunked bronze: the rewrite unit is the
    * affected (chunk_date, batch_id) COMPOSITE on both trees — a doc
    * lives in exactly its crawl day's chunk, so the composites are found
    * via 3-column pruned scans, snapshotted BEFORE the dynamic overwrite
    * (which deletes the files those plans read), rewritten minus the
    * request, and deleted explicitly when fully emptied (dynamic
    * overwrite writes nothing for them — the PostingLog.eraseDocsChunked
    * leak lesson), along with date dirs left batch-less. Hash-index
    * semantics match the flat path: the erased content's hashes leave
    * the suppression index FIRST (index-before-docs crash ordering), so
    * a re-crawl after the erase is a new landing. Idempotent. */
  private def eraseDocsChunked(spark: SparkSession, baseDir: String,
      req: DataFrame): Long = {
    import spark.implicits._
    val docsPath = s"$baseDir/docs"
    val indexPath = s"$baseDir/hash_index"
    val parts = Seq("chunk_date", "batch_id")

    def composites(df: DataFrame): Array[(String, Long)] =
      df.select(col("chunk_date").cast("string"), col("batch_id").cast("long"))
        .distinct().as[(String, Long)].collect()

    def compCond(cs: Array[(String, Long)]) =
      cs.map { case (d, b) =>
        col("chunk_date") === lit(d).cast("date") && col("batch_id") === b
      }.reduce(_ || _) // partition predicates only — pruned at listing

    def rewriteTree(path: String, cs: Array[(String, Long)],
        keepPred: DataFrame => DataFrame): Unit = {
      val hfs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val slice = spark.read.parquet(path).filter(compCond(cs))
      val kept = keepPred(slice).localCheckpoint(eager = true)
      Store.refreshMartPartitionsBy(kept, path, parts)
      val remaining = composites(kept).toSet
      cs.filterNot(remaining).foreach { case (d, b) =>
        hfs.delete(
          new org.apache.hadoop.fs.Path(s"$path/chunk_date=$d/batch_id=$b"), true)
      }
      cs.map(_._1).distinct.foreach { d =>
        val dateDir = new org.apache.hadoop.fs.Path(s"$path/chunk_date=$d")
        if (hfs.exists(dateDir) && !hfs.listStatus(dateDir).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("batch_id=")))
          hfs.delete(dateDir, true)
      }
    }

    val affected = composites(spark.read.parquet(docsPath)
      .select(col("doc_id"), col("chunk_date"), col("batch_id"))
      .join(req, Seq("doc_id"), "left_semi"))
    if (affected.isEmpty) return 0L
    val hits = spark.read.parquet(docsPath).filter(compCond(affected))
      .join(req, Seq("doc_id"), "left_semi")
      .localCheckpoint(eager = true)
    val removed = hits.count()

    // step 1 — the hash index first (the flat path's crash ordering: doc
    // rows re-derive erased hashes on replay; the reverse order strands
    // unfindable hashes)
    val goneHashes = broadcast(
      hits.select(col("content_hash")).distinct().localCheckpoint(eager = true))
    if (chunkedExists(spark, indexPath)) {
      val idxAffected = composites(spark.read.parquet(indexPath)
        .join(goneHashes, Seq("content_hash"), "left_semi"))
      if (idxAffected.nonEmpty)
        rewriteTree(indexPath, idxAffected,
          _.join(goneHashes, Seq("content_hash"), "left_anti"))
    }
    // step 2 — the docs themselves
    rewriteTree(docsPath, affected, _.join(req, Seq("doc_id"), "left_anti"))
    removed
  }

  /** The slice a PAST landing of `batchId` left in the bronze, if any —
    * the replay-repair input for [[graft.streaming.DocStream
    * .startIndexedIngest]]: when a foreachBatch retry finds the bronze
    * already committed ([[appendDedupedLanded]] returns None because the
    * batch's hashes are now in the index), the derived stores must still
    * land THESE rows, or a crash between the bronze write and the derived
    * landings loses the batch from the index/dedup state forever. */
  def landedSlice(spark: SparkSession, baseDir: String,
      batchId: Long): Option[DataFrame] = {
    val docs = new org.apache.hadoop.fs.Path(s"$baseDir/docs")
    val fs = docs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a chunked bronze files the batch under each of its crawl days; its
    // rows keep their crawl_date, so the derived landings land chunked too
    val parents =
      if (!CubeLog.isChunkedRoot(spark, docs.toString)) Seq(docs)
      else fs.listStatus(docs).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("chunk_date="))
        .map(_.getPath)
    if (!parents.exists(d => fs.exists(new org.apache.hadoop.fs.Path(d, s"batch_id=$batchId"))))
      return None
    val rows = spark.read.parquet(s"$baseDir/docs")
      .filter(col("batch_id") === batchId)
      .localCheckpoint(eager = true)
    if (rows.isEmpty) None else Some(rows)
  }

  /** True when a tree holds at least one landed partition of either
    * layout — the trees whose layout a landing must match. */
  private def landedTree(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st => st.isDirectory &&
      (st.getPath.getName.startsWith("batch_id=") ||
        st.getPath.getName.startsWith("chunk_date=")))
  }

  /** True only when the index holds at least one real batch partition —
    * a directory containing nothing but _SUCCESS (e.g. left by a crashed
    * writer before the empty-batch guard existed) must read as absent, or
    * the next batch's parquet read dies on schema inference. */
  private def indexExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
  }

  // ---------------------------------------------------------------------
  // Calendar-chunked layout (r12): the [[MeterBronze]] retention
  // discipline on the corpus bronze, closing the layout asymmetry between
  // the two bronzes. A bronze landed from docs carrying `crawl_date`:
  //
  //   baseDir/docs/chunk_date=<d>/batch_id=<n>/        corpus text
  //   baseDir/hash_index/chunk_date=<d>/batch_id=<n>/  dedup memory
  //
  // so expiring a crawl day is a driver-side directory delete on BOTH
  // trees — zero rows read, exactly TimescaleDB drop_chunks
  // (01_create_schema.sql:96-101) applied to the text corpus. Dedup
  // becomes BOUNDED-HORIZON by construction: expired dates take their
  // hashes with them, so content re-crawled after its chunk expired
  // re-lands (the retention-correct semantics — the same contract as the
  // watermark-bounded streaming dedup). A hash's retention anchor is its
  // FIRST-seen date: re-seen content is dropped by the anti-join and does
  // not refresh the lease (refreshing would rewrite an index row per
  // re-sight — an O(duplicates) write amplification for a semantics no
  // retention policy asked for).
  // ---------------------------------------------------------------------

  /** Retention: drop every chunk strictly BEFORE `cutoff` (ISO date) from
    * both trees — driver-side directory deletes, zero rows read.
    * Idempotent; returns the number of date chunks dropped (0 for a bronze
    * with nothing landed). A bronze landed flat fails, as every store
    * without the retention axis does. */
  def expireBefore(spark: SparkSession, baseDir: String, cutoff: String): Long = {
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoff must be an ISO date: $cutoff")
    // dropping zero dirs from a flat bronze would let an operator believe
    // data expired when nothing did
    val docsPath = s"$baseDir/docs"
    if (landedTree(spark, docsPath))
      require(CubeLog.isChunkedRoot(spark, docsPath),
        s"bronze $baseDir has no retention axis — land docs carrying " +
          "crawl_date through appendDeduped to expire by crawl date")
    var dropped = 0L
    Seq(s"$baseDir/docs", s"$baseDir/hash_index").foreach { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("chunk_date="))
        .foreach { st =>
          val d = st.getPath.getName.stripPrefix("chunk_date=")
          // lexicographic = chronological for ISO dates
          if (d < cutoff) { fs.delete(st.getPath, true); dropped += 1 }
        }
    }
    dropped
  }

  /** Chunked-layout existence: at least one chunk_date= partition holding
    * at least one batch_id= partition. */
  private def chunkedExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("chunk_date="))
      .exists(st => fs.listStatus(st.getPath)
        .exists(k => k.isDirectory && k.getPath.getName.startsWith("batch_id=")))
  }
}
