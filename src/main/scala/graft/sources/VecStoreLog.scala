package graft.sources

import graft.GraftQuery
import graft.GraftQuery.q
import graft.ops.Tables
import graft.llm.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MAINTAINED ANN index: the [[VecStore]] cell layout under the
  * [[CubeLog]] crash-safe generation contract — the vector twin of the
  * mergeable-cube quartet's maintenance surface, for the corpus shape a
  * training-data pipeline actually has (a continuously-crawled embedding
  * stream, not a build-once corpus).
  *
  * Layout under a store dir:
  *  - `batch_id=<N>/`   — live DELTA epochs: raw (vec_id, label,
  *                        embedding) rows, landed by [[appendBatch]] with
  *                        the replay-idempotent overwrite + epoch
  *                        watermark guard (exactly-once over an
  *                        at-least-once channel, incl. across compactions
  *                        — the same contract as the cube stores)
  *  - `folded_gen=<G>/` — the TRAINED index generation: `cell=K/`
  *                        partitions + `_centroids/` codebook (Spark's
  *                        file index hides underscore dirs, so the gen
  *                        dir reads as a clean cell-partitioned frame)
  *  - `_cube_commits/`  — CubeLog commit markers (atomic-rename, torn
  *                        markers skipped with fallback)
  *
  * Design split, and why it scales:
  *  - **Appends are cheap and train-free.** A delta epoch is landed AS
  *    IS — no assignment, no retrain, one parquet write. IVF assignment
  *    through stale centroids is what rots recall as the distribution
  *    drifts; deferring assignment to compaction means vectors are only
  *    ever placed by a codebook trained on a corpus that INCLUDES them.
  *  - **Probes = pruned base + brute delta.** The committed generation is
  *    probed through the normal cell-pruned path ([[VecStore.probeTopK]]
  *    internals — only probed `cell=` directories are listed); the live
  *    delta is brute-scored against the broadcast query set. The delta is
  *    bounded by compaction cadence, so its full scan is the SMALL leg —
  *    and exact, so fresh vectors are retrievable the moment they land
  *    with no recall penalty (better than through any index).
  *  - **Compaction = retrain at the derived k.** The fold re-trains Lloyd
  *    at [[VecStore.cellKFor]](n) over base ∪ delta and rewrites the cell
  *    layout — the √n sizing rule is APPLIED as the corpus grows, not
  *    frozen at build time. Crash ordering, commit marker, and cleanup
  *    come from [[CubeLog.compactFrom]]; a crash leaves the previous
  *    generation readable and the delta live.
  *
  * `vecstore_maintained_probe` oracle-gates the whole loop: the corpus
  * landed as three epoch slices, compacted (everything folds), probed —
  * hash-equal to the batch-built index's oracle because retrain-over-
  * epochs sees the identical corpus and Lloyd/assignment are
  * deterministic, order-independent aggregations. */
object VecStoreLog {

  /** Rows per file in a landed delta epoch: ~300 B/row at 64 float dims
    * → ~150 MB files, the comfortable parquet task size. Epochs at or
    * under one file's worth land as ONE file (the small-files rule);
    * larger epochs split so a big landing is written (and later folded)
    * by many tasks instead of funneling through a single writer. */
  val EpochRowsPerFile = 500000L

  /** Land one delta epoch. Replay-idempotent (overwrite) and
    * folded-epoch-guarded (no-op at or under the commit watermark).
    * `embeddings` carrying a `crawl_date` DATE column land calendar-
    * chunked (`batch_id=<N>/chunk_date=<D>/`) and the store then keeps
    * that layout through every fold ([[CubeLog.requireLayout]]).
    * Returns the rows landed (0 when the watermark guard no-ops). */
  def appendBatch(embeddings: DataFrame, dir: String, batchId: Long,
      rowsPerFile: Long = EpochRowsPerFile): Long = {
    val spark = embeddings.sparkSession
    val chunked = CubeLog.carriesCrawlDate(embeddings)
    val v = CubeLog.view(spark, dir)
    CubeLog.requireLayout(spark, "vector store", dir,
      v.foldedDir.toSeq ++ v.liveBatches.map(_._2), chunked)
    if (CubeLog.isFolded(spark, dir, batchId)) return 0L
    CubeLog.claimEpoch(spark, dir, batchId) // single-writer guard
    val slim = embeddings.select(Seq(col("vec_id"), col("label"), col("embedding")) ++
        (if (chunked) Seq(col("crawl_date").cast("date").as("chunk_date")) else Nil): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the count both sizes the write (multi-file above the threshold —
      // r11 shipped an unconditional coalesce(1), a single-task landing
      // path for arbitrarily large epochs) and feeds the caller's cadence
      // arithmetic; it reuses the persisted batch the write needs anyway
      val n = slim.count()
      // an empty epoch (empty micro-batch at stream start, or a batch
      // whose document-bearing stride is empty) lands NOTHING — the
      // PostingLog/DedupLog guard: empty epoch dirs count toward cadence
      // fan-in forever and an all-empty store would train an empty fold
      if (n == 0L) { // nothing to land: return the claim (no epoch dir
        // will ever commit, so a kept claim only reads as torn in fscks)
        CubeLog.releaseClaim(spark, dir, batchId)
        return 0L
      }
      val files = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
      writeEpoch(slim, files, s"$dir/batch_id=$batchId")
      n
    } finally slim.unpersist()
  }

  /** Whole-epoch overwrite in `files` files; a chunked epoch keeps its
    * retention axis as the partition directory. */
  private def writeEpoch(rows: DataFrame, files: Int, path: String): Unit =
    if (rows.columns.contains("chunk_date"))
      rows.repartition(files, col("chunk_date"))
        .write.mode("overwrite").partitionBy("chunk_date").parquet(path)
    else rows.coalesce(files).write.mode("overwrite").parquet(path)

  /** Probe-cost guarantee of the maintained store: the live delta may
    * never push a probe's mean candidate volume past this multiple of
    * the all-folded twin's — the cadence trigger is DERIVED from it. */
  val MaxProbeRatio = 1.3

  /** The compaction-cadence rule IN CODE (r11 left it as SCALING.md
    * prose, and a deferred-compaction store silently degrades to a linear
    * scan), derived from the probe-cost guarantee rather than a share
    * constant: a maintained probe scores s·B + D candidates (s =
    * probeCells/cellK the probed share, B base rows, D delta rows) where
    * the all-folded twin of the same corpus scores s·(B + D), so the
    * cost ratio is (s + f)/(s(1 + f)) with f = D/B — and it exceeds
    * [[MaxProbeRatio]] r exactly when f > (r−1)·s / (1 − r·s). Folding
    * AT that boundary (≥) keeps every probe ≤ r × all-folded; the first
    * auto-cadence sweep (r12, SCALING.md) measured the pre-derivation
    * share rule peaking at 1.44×, which is what forced the trigger to be
    * solved from the bound instead of set to the budget share. When
    * r·s ≥ 1 the ratio is capped at 1/s < r for ANY delta, so the
    * guarantee cannot break — the budget-share rule (f ≥ s) remains as
    * the floor so folds still happen and the epoch file count stays
    * bounded. Costs two parquet METADATA counts (base, delta) and the
    * k-row codebook read on the driver — no vector data read. A store
    * with no committed generation compacts on any live data: it cannot
    * answer probes at all until a first fold exists.
    *
    * `probeCells` ≤ 0 (the default) means "the probe width this store's
    * own k derives" ([[VecStore.probeCellsFor]]) — the width
    * [[probeTopK]] callers are sized with; passing the fixed
    * [[VecStore.ProbeCells]] against a large-k generation would
    * understate s and over-fold. */
  def shouldCompact(spark: SparkSession, dir: String,
      probeCells: Int = -1,
      maxRatio: Double = MaxProbeRatio): Boolean = {
    val v = CubeLog.view(spark, dir)
    if (v.liveBatches.isEmpty) false
    else v.foldedDir match {
      case None => true
      case Some(f) =>
        val base = spark.read.parquet(f).count()
        val delta = spark.read.parquet(v.liveBatches.map(_._2): _*).count()
        val cellK = VecStore.codebook(spark, f).cids.length
        val pc =
          if (probeCells > 0) probeCells
          else VecStore.probeCellsFor(cellK)
        val s = pc.toDouble / cellK
        val fThresh =
          if (maxRatio * s >= 1.0) s
          else (maxRatio - 1.0) * s / (1.0 - maxRatio * s)
        delta.toDouble >= base.toDouble * fThresh
    }
  }

  /** Landing with the cadence applied automatically: land the epoch,
    * fold iff [[shouldCompact]]. Returns true when a compaction ran — the
    * streaming foreachBatch landing path calls THIS, so probe cost stays
    * ≤ (1 + budget share) × base-only without an operator remembering to
    * compact. */
  def appendBatchAuto(embeddings: DataFrame, dir: String, batchId: Long,
      probeCells: Int = -1): Boolean = {
    val s = embeddings.sparkSession
    appendBatch(embeddings, dir, batchId)
    val fold = shouldCompact(s, dir, probeCells)
    if (fold) compact(s, dir)
    fold
  }

  /** Document-bearing stride of the meter wire: 1 reading in 16 carries
    * an attached document whose embedding lands in the maintained index —
    * the realistic LLM-pipeline ratio where the vector stream is a
    * side channel of a much faster event stream, not every event. */
  val WireEmbeddingStride = 16

  /** Dims of the derived wire embedding (matches the corpus tables). */
  val WireEmbeddingDims = 64

  /** The embedding side channel of the parsed meter wire, derived
    * DETERMINISTICALLY so the streaming gold loop can land real epochs
    * without a model in the container: every [[WireEmbeddingStride]]-th
    * meter's readings are "document-bearing"; vec_id composes
    * (meter_id, second) injectively and the embedding is a 64-dim
    * xxhash64 fold of the same pair — pure codegen'd built-ins, no UDF,
    * so the derivation itself never bounds the landing rate. A real
    * deployment swaps this projection for the model's output columns;
    * everything downstream (epoch landing, cadence, fold, probe, RTBF)
    * only sees the (vec_id, label, embedding) shape. */
  def readingEmbeddings(parsed: DataFrame): DataFrame = {
    // a parsed frame carrying crawl_date (the reading's own date, so the
    // chunked landing's partition key is replay-stable) keeps it
    val dated = if (CubeLog.carriesCrawlDate(parsed)) Seq(col("crawl_date")) else Nil
    parsed
      .filter(pmod(col("meter_id"), lit(WireEmbeddingStride)) === 0)
      .select(Seq(col("meter_id").cast("long").as("m"),
        unix_timestamp(col("reading_timestamp")).as("ts_s")) ++ dated: _*)
      .select(Seq(
        (col("m") * lit(10000000000L) + col("ts_s")).as("vec_id"),
        pmod(col("m"), lit(7)).cast("int").as("label"),
        expr(s"""transform(sequence(0, ${WireEmbeddingDims - 1}),
                |  i -> CAST((pmod(xxhash64(m, ts_s, i), 2001) - 1000) / 1000.0
                |       AS FLOAT))""".stripMargin).as("embedding")) ++ dated: _*)
  }

  /** foreachBatch landing hook of the streaming gold loop: derive the
    * wire's embedding side channel, land it as epoch `batchId` (replay-
    * idempotent + watermark-guarded like every cube landing; chunked when
    * `parsed` carries `crawl_date`). Returns rows landed. The mid-run fold runs BESIDE this (an offline
    * compactor), never inside it — landings stay train-free by design. */
  def landWireEpoch(parsed: DataFrame, dir: String, batchId: Long): Long =
    appendBatch(readingEmbeddings(parsed), dir, batchId)

  /** Every vector the store currently answers from: committed generation
    * + live delta epochs. */
  def vectors(spark: SparkSession, dir: String): DataFrame = {
    val v = CubeLog.view(spark, dir)
    val base = v.foldedDir.map(f => spark.read.parquet(f)
      .select(col("vec_id"), col("label"), col("embedding")))
    val delta = v.liveBatches.map(_._2).map(p => spark.read.parquet(p)
      .select(col("vec_id"), col("label"), col("embedding")))
    (base.toSeq ++ delta)
      .reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalArgumentException(s"empty vector store: $dir"))
  }

  /** Fold the live delta into a freshly-trained generation. `cellK`
    * defaults to the √n rule over the FULL post-fold corpus; the
    * registered query pins it to the oracle-matched [[VecStore.CellK]].
    * A calendar-chunked store keeps its retention axis through the fold
    * (`cell=<K>/chunk_date=<D>/` — cell OUTER so probes prune directories
    * exactly like the flat store; [[VecStore.build]]). */
  def compact(spark: SparkSession, dir: String,
      cellK: Option[Int] = None): Long =
    CubeLog.compactFrom(spark, dir) { (v, out) =>
      val roots = v.foldedDir.toSeq ++ v.liveBatches.map(_._2)
      val cols = (Seq("vec_id", "label", "embedding") ++
        CubeLog.axis(CubeLog.chunkedStore(spark, roots))).map(col)
      val all = roots.map(p => spark.read.parquet(p).select(cols: _*))
        .reduce(_ unionByName _)
        .localCheckpoint(eager = true) // count + train + assign, then the
      // source dirs are deleted by the cleanup — sever the lineage
      val k = cellK.getOrElse(VecStore.cellKFor(all.count()))
      VecStore.build(all, out, k)
    }

  // ---------------------------------------------------------------- //
  // Calendar retention (r14): expiring a crawl day used to drop its text,
  // postings, and signatures while its EMBEDDINGS lived on in both vector
  // indexes until an explicit RTBF id list arrived. A chunked store's
  // layout per root:
  //
  //   batch_id=<N>/chunk_date=<D>/             live delta epochs
  //   folded_gen=<G>/cell=<K>/chunk_date=<D>/  the trained generation
  //
  // chunk_date INNER makes expiring a day ≤ k directory deletes per
  // generation (one per cell holding that day) plus one per epoch —
  // TimescaleDB drop_chunks (01_create_schema.sql:98-101) on the ANN
  // axis. The codebook is NOT touched by expiry (k coarse aggregates —
  // no vector is recoverable from it; the next retraining fold re-derives
  // it over the retained corpus anyway, the eraseByIds doctrine).
  // ---------------------------------------------------------------- //

  /** Retention: drop every chunk strictly BEFORE `cutoff` (ISO date) from
    * EVERY root on disk — live epochs (`chunk_date=` at the root), the
    * committed generation (`cell=K/chunk_date=`), and grace-retained dirs.
    * Driver-side directory deletes, zero vector rows read; a cell whose
    * every date expired has its directory removed; the codebook stays
    * (retrained at the next fold). Refuses to empty the committed
    * generation entirely — a store with no probeable vectors should be
    * dropped, not silently served. Idempotent; returns dirs dropped. */
  def expireBefore(spark: SparkSession, dir: String, cutoff: String): Long = {
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoff must be an ISO date: $cutoff")
    val root = new org.apache.hadoop.fs.Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(root)) return 0L
    val v = CubeLog.view(spark, dir)
    (v.foldedDir.toSeq ++ v.liveBatches.map(_._2)).headOption.foreach { r =>
      require(CubeLog.isChunkedRoot(spark, r),
        s"vector store $dir has no retention axis — land embeddings " +
          "carrying crawl_date through appendBatch to expire by crawl date")
    }
    // refuse a cutoff that would leave the serving state empty — the
    // committed generation, or the live epochs of a never-folded store
    requireSurvivor(spark, dir, v, cutoff, "vectors")
    expireDateDirs(hfs, root, cutoff)
  }

  /** Survivor scan for the refuse-to-empty guard: `(anyDateDirs,
    * anySurviving)` over every `chunk_date=` dir under `root` — direct,
    * one `cell=` level down, or under [[IvfPqLog]]'s codes/vectors
    * subtrees (the same shapes [[expireDateDirs]] sweeps). */
  private[sources] def dateDirStats(hfs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, cutoff: String): (Boolean, Boolean) = {
    var any = false
    var survives = false
    def scanDirect(d: org.apache.hadoop.fs.Path): Unit =
      hfs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("chunk_date=")) {
          any = true
          if (n.stripPrefix("chunk_date=") >= cutoff) survives = true
        }
      }
    def scanCells(d: org.apache.hadoop.fs.Path): Unit =
      hfs.listStatus(d)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .foreach(c => scanDirect(c.getPath))
    scanDirect(root)
    scanCells(root)
    Seq("codes", "vectors").foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(root, sub)
      if (hfs.exists(p)) { scanDirect(p); scanCells(p) }
    }
    (any, survives)
  }

  /** The refuse-to-empty guard shared by both vector stores' retention:
    * a cutoff must leave ≥1 probeable chunk in the store's SERVING state —
    * the committed generation when one exists, else the live epochs (a
    * never-folded store emptied by retention would fail every probe:
    * exactly the state the contract says to drop, not silently serve). */
  private[sources] def requireSurvivor(spark: SparkSession, dir: String,
      v: CubeLog.View, cutoff: String, what: String): Unit = {
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val guarded = v.foldedDir.map(Seq(_)).getOrElse(v.liveBatches.map(_._2))
    val stats = guarded.map(r =>
      dateDirStats(hfs, new org.apache.hadoop.fs.Path(r), cutoff))
    require(!stats.exists(_._1) || stats.exists(_._2),
      s"expiry at $cutoff would empty $dir — drop the store instead of " +
        s"serving an index with no $what")
  }

  /** The shared directory-drop sweep: every `chunk_date=` dir before the
    * cutoff, directly under each `batch_id=`/`folded_gen=` root or nested
    * one `cell=` level down (and under [[IvfPqLog]]'s codes/vectors
    * subtrees), goes; cell dirs emptied by the sweep go too. */
  private[sources] def expireDateDirs(hfs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, cutoff: String): Long = {
    var dropped = 0L
    def dropUnder(d: org.apache.hadoop.fs.Path): Unit =
      hfs.listStatus(d)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("chunk_date="))
        .foreach { st =>
          // lexicographic = chronological for ISO dates
          if (st.getPath.getName.stripPrefix("chunk_date=") < cutoff) {
            hfs.delete(st.getPath, true); dropped += 1
          }
        }
    def dropCells(d: org.apache.hadoop.fs.Path): Unit =
      hfs.listStatus(d)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .foreach { cellDir =>
          dropUnder(cellDir.getPath)
          val anyLeft = hfs.listStatus(cellDir.getPath).exists(st =>
            st.isDirectory && st.getPath.getName.startsWith("chunk_date="))
          if (!anyLeft) hfs.delete(cellDir.getPath, true)
        }
    hfs.listStatus(root)
      .filter(st => st.isDirectory &&
        (st.getPath.getName.startsWith("batch_id=") ||
          st.getPath.getName.startsWith("folded_gen=")))
      .foreach { r =>
        dropUnder(r.getPath) // live epoch layout
        dropCells(r.getPath) // this store's generation layout
        Seq("codes", "vectors").foreach { sub => // IvfPqLog's artifact trees
          val p = new org.apache.hadoop.fs.Path(r.getPath, sub)
          if (hfs.exists(p)) dropCells(p)
        }
      }
    dropped
  }

  /** Top-k probe over the MAINTAINED store: cell-pruned candidates from
    * the committed generation ∪ brute-scored candidates from the live
    * delta, ranked together. `n_cands` counts both legs — the pruning
    * evidence plus the (bounded) delta cost, visible per query.
    *
    * Two plans ([[VecStore.probeRanked]]), one arithmetic:
    *  - **driver-served**: a one-row query frame already on the driver
    *    (its optimized plan is a one-row LocalRelation — `Seq(...).toDF`,
    *    so collecting it runs no job) whose probed bytes pass the gate.
    *    The committed codebook is read off its parquet file and ranks the
    *    query's cells; one listing of the probed `cell=` directories and
    *    the live epochs gives the probed bytes, and when they are at most
    *    [[DriverRead.VecProbeMaxBytes]] those files are read through the
    *    driver reader [[PostingLog.probe]] shares ([[DriverRead]]),
    *    quantized (SQL `round`, HALF_UP), scored
    *    with the fixed-point cosine in the SQL operation order, the query's
    *    own id excluded, ranked by cosine then `vec_id`, and returned as a
    *    local relation of the distributed plan's schema. The probe submits
    *    no Spark job and builds no file index;
    *  - **distributed**: any other frame (several rows, or read from
    *    parquet as the registered queries' are), and a one-row frame over
    *    the gate. The codebook, packed once on the driver, crossJoins the
    *    queries, and both legs join the broadcast probe set, the
    *    generation's cells pruned dynamically.
    * Input the driver path does not mirror (nulls, types it does not
    * decode) takes the distributed plan too; a zero norm scores a null
    * cosine on both, ranked after every number. Every output column
    * and tie agrees between the two (VecStoreLogSpec). */
  def probeTopK(s: SparkSession, dir: String, queryEmbeddings: DataFrame,
      probeCells: Int, k: Int = 5): DataFrame = {
    val v = CubeLog.view(s, dir)
    require(v.foldedDir.nonEmpty,
      s"maintained vector store $dir has no committed generation — compact first")
    VecStore.probeRanked(s, v.foldedDir.get, queryEmbeddings, probeCells, k,
      v.liveBatches.map(_._2))
  }

  /** RTBF for the maintained ANN index — the one governance discipline
    * ([[ErasureStore]] / [[MeterBronze]]) the vector surface lacked, and
    * the one a training-data pipeline legally needs (embeddings of erased
    * documents are still personal data derivatives). Returns rows removed.
    *
    * Bounded-rewrite shape, with one honest difference from the doc
    * stores: a vector's cell is an ASSIGNMENT (nearest trained centroid),
    * not arithmetic of its id, so the affected cells must be FOUND — via
    * a scan pruned to the two BIGINT columns (vec_id, cell; ~1% of index
    * bytes at 64 float dims), never the embeddings themselves. Then:
    *
    *  - live delta epochs: only epochs that contain a requested id are
    *    rewritten in place (epoch dir names and the commit watermark are
    *    untouched, so replay/fold semantics are unchanged);
    *  - the committed generation: only the affected `cell=` partitions
    *    rewrite (dynamic partition overwrite), every other cell directory
    *    stays byte-identical — VecErasureSpec asserts it by content and
    *    mtime; a cell fully emptied by the request has its directory
    *    deleted explicitly (bounded driver work, ≤ |affected cells| ids).
    *
    * The codebook is NOT retrained here: centroids are k coarse
    * aggregates over the corpus (no vector is recoverable from them), and
    * the next compaction retrains over the post-erase corpus anyway.
    * Idempotent: replaying a request finds zero hits and rewrites
    * nothing. */
  /** Erase the requested ids from LIVE delta epochs: only epochs that
    * contain a hit are rewritten in place (dir names and the commit
    * watermark untouched, so replay/fold semantics are unchanged).
    * Shared by this store and [[IvfPqLog]] — the raw epoch layout is
    * identical. Returns rows removed. */
  private[sources] def eraseFromLiveEpochs(spark: SparkSession,
      v: CubeLog.View, req: DataFrame): Long = {
    var removed = 0L
    v.liveBatches.foreach { case (_, path) =>
      val raw = Tables.cachedParquet(spark, path) // its schema is read anyway
      val epochCols = Seq("vec_id", "label", "embedding") ++
        CubeLog.axis(raw.columns.contains("chunk_date"))
      val epoch = raw.select(epochCols.map(col): _*)
      val hits = epoch.join(req, Seq("vec_id"), "left_semi").count()
      if (hits > 0L) {
        removed += hits
        val kept = epoch.join(req, Seq("vec_id"), "left_anti")
          .localCheckpoint(eager = true) // sever lineage from the files replaced below
        val files = math.max(1L,
          (kept.count() + EpochRowsPerFile - 1) / EpochRowsPerFile).toInt
        writeEpoch(kept, files, path) // whole-epoch delete-then-write
      }
    }
    removed
  }

  def eraseByIds(spark: SparkSession, dir: String, ids: Seq[Long]): Long = {
    if (ids.isEmpty) return 0L
    import spark.implicits._
    val req = broadcast(ids.toDF("vec_id"))
    val v = CubeLog.view(spark, dir)
    var removed = eraseFromLiveEpochs(spark, v, req)
    v.foldedDir.foreach { f =>
      val hfs = new org.apache.hadoop.fs.Path(f)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (CubeLog.isChunkedRoot(spark, f)) {
        // chunked generation: the rewrite unit is the affected
        // (cell, chunk_date) COMPOSITE — a vector lives in exactly one, so
        // rewriting whole affected cells would churn every OTHER crawl
        // day of those cells for nothing (VecChunkedRetentionSpec pins
        // day-level byte-identity). Snapshot the composites BEFORE the
        // dynamic overwrite (the PostingLog.eraseDocsChunked discipline);
        // a composite fully emptied by the request writes nothing and is
        // deleted explicitly, as is a cell left date-less.
        val affComp = Tables.cachedParquet(spark, f)
          .select(col("vec_id"), col("cell"), col("chunk_date"))
          .join(req, Seq("vec_id"), "left_semi")
          .select(col("cell").cast("long"), col("chunk_date").cast("string"))
          .distinct().as[(Long, String)].collect().sorted
        if (affComp.nonEmpty) {
          val cond = affComp.map { case (c, dd) =>
            col("cell") === c && col("chunk_date") === lit(dd).cast("date")
          }.reduce(_ || _) // partition predicates only — pruned at listing
          val slice = Tables.cachedParquet(spark, f).filter(cond)
            .select(col("vec_id"), col("label"), col("embedding"),
              col("cell"), col("chunk_date"))
          removed += slice.join(req, Seq("vec_id"), "left_semi").count()
          val kept = slice.join(req, Seq("vec_id"), "left_anti")
            .localCheckpoint(eager = true)
          Store.refreshMartPartitionsBy(kept, f, Seq("cell", "chunk_date"))
          val remaining = kept.select(col("cell").cast("long"),
              col("chunk_date").cast("string")).distinct()
            .as[(Long, String)].collect().toSet
          affComp.filterNot(remaining).foreach { case (c, dd) =>
            hfs.delete(
              new org.apache.hadoop.fs.Path(s"$f/cell=$c/chunk_date=$dd"), true)
          }
          affComp.map(_._1).distinct.foreach { c =>
            val cellDir = new org.apache.hadoop.fs.Path(s"$f/cell=$c")
            if (hfs.exists(cellDir) && !hfs.listStatus(cellDir).exists(st =>
              st.isDirectory && st.getPath.getName.startsWith("chunk_date=")))
              hfs.delete(cellDir, true)
          }
        }
      } else {
        val affected = Tables.cachedParquet(spark, f).select(col("vec_id"), col("cell"))
          .join(req, Seq("vec_id"), "left_semi")
          .select(col("cell").cast("long")).distinct().as[Long].collect().sorted
        if (affected.nonEmpty) {
          // static PartitionFilter: only affected cell dirs are listed/read
          val slice = Tables.cachedParquet(spark, f)
            .filter(col("cell").isin(affected: _*))
            .select(col("vec_id"), col("label"), col("embedding"), col("cell"))
          removed += slice.join(req, Seq("vec_id"), "left_semi").count()
          val kept = slice.join(req, Seq("vec_id"), "left_anti")
            .localCheckpoint(eager = true)
          Store.refreshMartPartitions(kept, f, "cell")
          val remaining = kept.select(col("cell").cast("long")).distinct()
            .as[Long].collect().toSet
          affected.filterNot(remaining).foreach { c =>
            hfs.delete(new org.apache.hadoop.fs.Path(s"$f/cell=$c"), true)
          }
        }
      }
    }
    // the grace generation holds PRE-ERASE vectors (the previous fold +
    // the batch dirs it absorbed) — purge it, or erased embeddings persist
    // until a compaction a quiesced store never runs
    CubeLog.purgeGraceRetained(spark, dir)
    removed
  }

  private lazy val root: String =
    s"${sys.props("java.io.tmpdir")}/graft_vecstore_log/${java.util.UUID.randomUUID()}"
  private val built = scala.collection.mutable.Map.empty[String, String]
  private[sources] def maintainedDir(s: SparkSession, d: String): String =
    built.synchronized {
      built.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val emb = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
        (0L to 2L).foreach { epoch =>
          appendBatch(emb.filter(pmod(col("vec_id"), lit(3L)) === epoch),
            dir, epoch)
        }
        compact(s, dir, cellK = Some(VecStore.CellK))
        dir
      })
    }

  /** The batch-built probe's EXACT oracle answered through the
    * land→guard→fold→probe maintenance pipeline: three adversarial epoch
    * slices (vec_id mod 3 — every epoch carries vectors of every region),
    * one retraining compaction, the same cell-pruned probe. Hash equality
    * with [[VecStore.probeQuery]]'s oracle proves the maintained store ≡
    * the build-once store. */
  lazy val maintainedProbeQuery: GraftQuery =
    q("vecstore_maintained_probe", VecStore.probeQuery.oracle.get) { (s, d) =>
      val queries = Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
      probeTopK(s, maintainedDir(s, d), queries, VecStore.ProbeCells)
    }

  /** Serving-shape ANN on the pure top-k path (r15, the hybridTopKSet
    * doctrine): the query set is a FRAME — Q queries arrive as DATA (here
    * the % 23 stride, a panel disjoint from every other registered
    * probe's) and the MAINTAINED store answers the whole batch in ONE
    * plan: one broadcast of the codebook-ranked probe set, one
    * DPP-pruned pass over the probed `cell=` directories regardless of
    * |queries|. The oracle is the cell-probe truth at the same panel —
    * hash equality proves the frame-shaped entry answers exactly what
    * per-query invocations would, without |Q| passes over the index. */
  lazy val multiQueryProbeQuery: GraftQuery =
    q("vecstore_probe_multiquery", VecStore.probeOracleSql("vec_id % 23 = 0")) { (s, d) =>
      val queries = Tables.embeddings(s, d).filter(col("vec_id") % 23 === 0)
        .select(col("vec_id"), col("embedding"))
      probeTopK(s, maintainedDir(s, d), queries, VecStore.ProbeCells)
    }

  private val builtLive = scala.collection.mutable.Map.empty[String, String]
  private def liveDeltaDir(s: SparkSession, d: String): String =
    builtLive.synchronized {
      builtLive.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}_live"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val emb = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
        (0L to 1L).foreach { epoch =>
          appendBatch(emb.filter(pmod(col("vec_id"), lit(3L)) === epoch),
            dir, epoch)
        }
        compact(s, dir, cellK = Some(VecStore.CellK))
        // epoch 2 stays LIVE: the probe must answer from base ∪ delta
        appendBatch(emb.filter(pmod(col("vec_id"), lit(3L)) === 2L), dir, 2L)
        dir
      })
    }

  /** The live-delta store's declarative truth, parameterized by the
    * SURVIVOR predicate over stored vectors and by which corpus slice is
    * the FOLDED base vs the live delta: the codebook trains over the base
    * slice only (training precedes any erase or expiry), `survivors`
    * filters both stored legs (never the query set — probing for an
    * erased vector's neighbors stays legal; its ROWS must be gone). */
  private def liveDeltaSql(survivors: String,
      basePred: String = "vec_id % 3 < 2",
      deltaPred: String = "vec_id % 3 = 2"): String = {
    val iters = Similarity.CentroidIters
    val k = VecStore.CellK
    val pc = VecStore.ProbeCells
    s"""WITH ${Similarity.quantizedSql},
       |qb AS (SELECT * FROM qn WHERE $basePred),
       |${Similarity.lloydCtes(iters, k, src = "qb")},
       |cents AS (SELECT c_id, cqv, cnorm2 FROM c$iters),
       |bassigned AS (
       |  SELECT vec_id, label, qv, norm2, c_id, row_number() OVER (
       |    PARTITION BY vec_id
       |    ORDER BY CAST(list_sum(list_transform(list_zip(qv, cqv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
       |  FROM qb, cents),
       |idx AS (SELECT vec_id, label, qv, norm2, c_id AS cell FROM bassigned
       |  WHERE cr = 1 AND ($survivors)),
       |qassigned AS (
       |  SELECT vec_id, qv, norm2, c_id, row_number() OVER (
       |    PARTITION BY vec_id
       |    ORDER BY CAST(list_sum(list_transform(list_zip(qv, cqv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
       |  FROM qn, cents WHERE vec_id % 50 = 0),
       |qtop AS (SELECT vec_id, qv, norm2, CAST(c_id AS BIGINT) AS cell
       |  FROM qassigned WHERE cr = 1),
       |probes AS (
       |  SELECT vec_id, qv, norm2, c_id AS probe_cell FROM qassigned WHERE cr <= $pc),
       |delta AS (SELECT vec_id, label, qv, norm2 FROM qn
       |  WHERE ($deltaPred) AND ($survivors)),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.label AS label,
       |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
       |  FROM probes a JOIN idx b ON a.probe_cell = b.cell
       |    AND b.vec_id <> a.vec_id
       |  UNION ALL
       |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id, b.label AS label,
       |    CAST(list_sum(list_transform(list_zip(q.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(q.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
       |  FROM qtop q JOIN delta b ON b.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, label, cosine,
       |    CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cands,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT r.query_id, r.vec_id, r.label, t.cell, r.n_cands, r.cosine, r.rank
       |FROM ranked r JOIN qtop t ON t.vec_id = r.query_id
       |WHERE r.rank <= 5""".stripMargin
  }

  /** The LIVE-DELTA path oracle-gated (the maintained-probe query above
    * exercises the all-folded state; this one probes MID-STREAM): the
    * committed generation holds epochs 0-1 (the codebook trained on
    * them), epoch 2 is a live unfolded delta. The oracle replicates both
    * legs — Lloyd over the base subset only, cell-pruned base candidates,
    * plus EVERY delta vector brute-scored for every query — and the
    * union ranks identically, so hash equality proves fresh vectors are
    * retrievable exactly as the engine claims, not just spec-tested. */
  lazy val liveDeltaProbeQuery: GraftQuery =
    q("vecstore_live_delta_probe", liveDeltaSql("TRUE")) { (s, d) =>
      val queries = Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
      probeTopK(s, liveDeltaDir(s, d), queries, VecStore.ProbeCells)
    }

  private val builtErased = scala.collection.mutable.Map.empty[String, String]
  private def erasedDir(s: SparkSession, d: String): String =
    builtErased.synchronized {
      builtErased.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}_erased"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val emb = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
        (0L to 1L).foreach { epoch =>
          appendBatch(emb.filter(pmod(col("vec_id"), lit(3L)) === epoch),
            dir, epoch)
        }
        compact(s, dir, cellK = Some(VecStore.CellK))
        appendBatch(emb.filter(pmod(col("vec_id"), lit(3L)) === 2L), dir, 2L)
        dir
      })
    }

  /** RTBF driven end-to-end as a registered query: the live-delta store
    * shape (committed generation + one live epoch) with a deletion
    * request replayed against BOTH surfaces — erased ids land in folded
    * `cell=` partitions AND the live epoch, so the oracle's declarative
    * survivor set (`vec_id % 37 <> 0`, the [[ErasureStore]] request
    * convention with the data-derived bound) proves the targeted rewrite
    * removed exactly the requested vectors from each leg and nothing
    * else; the probe's candidate counts and ranks re-derive over the
    * survivors. Idempotent by replay on every invocation (bench reps
    * re-drive the pruned-rewrite path). VecErasureSpec asserts the
    * physical half: untouched cell directories byte-identical. */
  lazy val eraseProbeQuery: GraftQuery =
    q("vecstore_erase_probe", liveDeltaSql("vec_id % 37 <> 0")) { (s, d) =>
      val dir = erasedDir(s, d)
      val emb = Tables.embeddings(s, d)
      val maxId = emb.agg(max(col("vec_id")).cast("long")).head().getLong(0)
      eraseByIds(s, dir, ErasureStore.eraseIdsUpTo(maxId))
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
      probeTopK(s, dir, queries, VecStore.ProbeCells)
    }

  /** The synthetic crawl calendar shared by the vector expiry fixtures:
    * three days by id mod 3 — the corpus-table convention
    * ([[PostingLog.expireProbeQuery]]'s date assignment on the doc side). */
  private[sources] def withCrawlDates(emb: DataFrame): DataFrame =
    emb.withColumn("crawl_date", date_add(lit("2026-01-01").cast("date"),
      pmod(col("vec_id"), lit(3L)).cast("int")))

  private val builtExpired = scala.collection.mutable.Map.empty[String, String]
  private def expiredDir(s: SparkSession, d: String): String =
    builtExpired.synchronized {
      builtExpired.getOrElseUpdate(d, {
        val dir = s"$root/${new java.io.File(d).getName}_expired"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val emb = withCrawlDates(Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("label"), col("embedding")))
        // epochs sliced mod 2 so EVERY crawl day spans fold AND live legs:
        // expiry must drop date dirs from the generation's cell tree and
        // from a raw epoch dir in the same sweep
        appendBatch(emb.filter(pmod(col("vec_id"), lit(2L)) === 0L), dir, 0L)
        compact(s, dir, cellK = Some(VecStore.CellK))
        appendBatch(emb.filter(pmod(col("vec_id"), lit(2L)) === 1L), dir, 1L)
        dir
      })
    }

  /** Calendar retention on the ANN index driven end-to-end as a
    * registered query — the r13 verdict's top item (expiring a crawl day
    * dropped its text, postings, and signatures but left its EMBEDDINGS
    * probe-servable): the chunked store (generation trained on the even
    * half, odd half live, three synthetic crawl days by vec_id mod 3)
    * expires its first day — directory drops on the generation's
    * `cell=K/chunk_date=` tree and the live epoch alike, zero vector rows
    * rewritten, codebook untouched — then answers the maintained probe.
    * The oracle trains over the even half (the store's own training
    * corpus), filters BOTH stored legs to the survivor set (crawl day ≥
    * cutoff ⟺ vec_id % 3 ≠ 0, the date assignment's own arithmetic), and
    * keeps the full query set: hash equality proves expired embeddings
    * rank in neither leg and surviving candidate counts and ranks
    * re-derive exactly. Idempotent expiry per invocation. */
  lazy val expireProbeQuery: GraftQuery =
    q("vecstore_expire_probe", liveDeltaSql("vec_id % 3 <> 0",
      basePred = "vec_id % 2 = 0", deltaPred = "vec_id % 2 = 1")) { (s, d) =>
      val dir = expiredDir(s, d)
      expireBefore(s, dir, "2026-01-02")
      val queries = Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
      probeTopK(s, dir, queries, VecStore.ProbeCells)
    }
}
