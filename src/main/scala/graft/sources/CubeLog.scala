package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-safe compaction log shared by the mergeable-cube stores
  * ([[SketchStore]], [[HistStore]], [[HeavyHitterStore]]).
  *
  * A streaming-maintained cube lands one `batch_id=<epoch>` directory per
  * micro-batch (the replay-idempotent overwrite contract) — at the
  * reference's 96 batches/day that is ~35 K directories/year of KB-sized
  * files, the small-files decay [[PostingStore]]'s doc warns about.
  * [[DocStore.compactIndex]] repairs the same decay for its hash index by
  * folding into a reserved partition; that works there because the index
  * is a SET (re-landing a folded batch is harmless — the anti-join tests
  * existence, not multiplicity). Cube partials are COUNTS and histograms:
  * SUM-merged, so a replayed epoch re-landing after its directory was
  * folded-and-deleted would double-count. The fix is the transaction-log
  * idea (the FileStreamSink `_spark_metadata` manifest, reduced to two
  * moving parts):
  *
  * Layout under a store dir:
  *  - `<root parquet files>`       — batch `build`/`appendDay` landings
  *                                   (never compacted: already at final
  *                                   grain, one file per build)
  *  - `batch_id=<N>/`              — live streaming partials
  *  - `folded_gen=<G>/`            — the compacted fold, one per
  *                                   generation
  *  - `_cube_commits/<G>`          — commit marker for generation G; its
  *                                   CONTENT is the fold's epoch
  *                                   watermark (max folded batch id)
  *
  * Invariants:
  *  - Readers resolve the LATEST COMMITTED generation G*, then read
  *    root files ∪ `folded_gen=G*` ∪ batch dirs with id > watermark(G*).
  *    Batch dirs at or under the watermark are ignored even if present —
  *    their content is already inside the fold.
  *  - `appendBatch` consults the watermark first and NO-OPS for folded
  *    epochs: a replay of a pre-compaction epoch lands nothing, so store
  *    contents stay exactly-once over an at-least-once channel even
  *    across compactions.
  *  - [[compact]] orders: write `folded_gen=G+1` → commit marker (create
  *    + atomic rename) → cleanup. A crash anywhere leaves a readable
  *    store: before the marker, readers still use G* and the orphan G+1
  *    dir is overwritten by the next compaction; after the marker, the
  *    watermark already excludes the not-yet-deleted batch dirs and the
  *    next compaction finishes the cleanup.
  *  - Cleanup keeps a GRACE GENERATION: generation G's fold, its marker,
  *    and the batch dirs folded into G+1 survive until G+2 commits.
  *    Concurrent readers holding a view at most one compaction old stay
  *    fully readable, and a torn NEWEST marker falls back to a complete,
  *    exactly-once G-view instead of failing (the loud failure now needs
  *    two lost generations). Store size stays bounded: ≤ 2 folds +
  *    ≤ 1 cycle of batch dirs.
  *
  * FILESYSTEM PRECONDITION: the commit step requires an ATOMIC,
  * fail-on-existing rename (HDFS, local FS — both true). Object stores
  * (S3) implement rename as copy+delete and cannot provide it; there the
  * marker write must be replaced by a conditional create (S3
  * If-None-Match PUT) or an external log (the same reason Delta Lake
  * uses a commit service on S3). [[compact]] checks the rename's return
  * value and fails loudly rather than cleaning up against a commit that
  * never happened.
  *
  * Scale shape: all log operations are driver-side directory listings
  * bounded by |live batches| + O(1); the fold itself is one Spark job
  * over frames that are |days|-bounded by the store contract. Probe
  * latency is what compaction buys — a probe reads ≤ 1 fold + the few
  * since-landed epochs instead of a year of micro-batch directories.
  */
object CubeLog {

  final case class View(
      rootFiles: Seq[String],
      foldedDir: Option[String],
      liveBatches: Seq[(Long, String)],
      watermark: Long,
      gen: Long) {
    def dataPaths: Seq[String] =
      rootFiles ++ foldedDir.toSeq ++ liveBatches.map(_._2)
  }

  private def fs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ---------------------------------------------------------------- //
  // Layout — flat or calendar-chunked — is a STORE property. The input
  // decides it (a landing frame carrying `crawl_date` lands under
  // `chunk_date=` directories, any other frame lands flat) and the store
  // remembers it in the directory names it writes, so folds, expiry,
  // erase and fsck read it back without a schema inference.
  // ---------------------------------------------------------------- //

  /** True iff a landing frame asks for the calendar-chunked layout. */
  private[graft] def carriesCrawlDate(df: DataFrame): Boolean =
    df.columns.contains("crawl_date")

  /** The partition axis a layout adds to every row: `chunk_date` when
    * chunked, nothing when flat. */
  private[graft] def axis(chunked: Boolean): Seq[String] =
    if (chunked) Seq("chunk_date") else Nil

  /** True iff a store root carries the calendar retention axis — decided
    * from DIRECTORY NAMES (a few bounded listings, never a Spark job):
    * epoch roots and the bronze/dedup trees hold `chunk_date=` children
    * directly, vector generations hold them under `cell=`
    * ([[VecStoreLog]]) or `codes/cell=` ([[IvfPqLog]]). */
  private[graft] def isChunkedRoot(spark: SparkSession, root: String): Boolean = {
    val (hfs, p) = fs(spark, root)
    if (!hfs.exists(p)) return false
    def hasDateChild(d: org.apache.hadoop.fs.Path): Boolean =
      hfs.exists(d) && hfs.listStatus(d).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("chunk_date="))
    def firstCellOf(d: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] =
      if (!hfs.exists(d)) None
      else hfs.listStatus(d).find(st =>
        st.isDirectory && st.getPath.getName.startsWith("cell=")).map(_.getPath)
    hfs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("chunk_date=")) ||
      firstCellOf(p).exists(hasDateChild) ||
      firstCellOf(new org.apache.hadoop.fs.Path(p, "codes")).exists(hasDateChild)
  }

  /** The layout a store was landed at, read off the first of its data
    * `roots` (false for a store with none yet). */
  private[graft] def chunkedStore(spark: SparkSession, roots: Seq[String]): Boolean =
    roots.headOption.exists(isChunkedRoot(spark, _))

  /** One store, ONE layout: a landing whose layout disagrees with the
    * store's data `roots` would break the next fold's unionByName and the
    * expiry's directory contract at a distance — fail at the landing,
    * before anything is written. */
  private[graft] def requireLayout(spark: SparkSession, what: String, dir: String,
      roots: Seq[String], chunked: Boolean): Unit =
    roots.headOption.foreach { r =>
      val stored = isChunkedRoot(spark, r)
      require(stored == chunked,
        s"$what $dir was landed ${if (stored) "WITH" else "WITHOUT"} the " +
          "chunk_date retention axis but this landing is " +
          s"${if (chunked) "calendar-chunked" else "flat"} — one store keeps " +
          "one layout; a frame carrying crawl_date lands chunked, any other " +
          "frame lands flat")
    }

  /** Resolve the reader view: latest committed generation, its epoch
    * watermark, live (unfolded) batch dirs, and root-level build files. */
  def view(spark: SparkSession, dir: String): View = {
    val (hfs, p) = fs(spark, dir)
    if (!hfs.exists(p)) return View(Nil, None, Nil, -1L, 0L)
    val kids = hfs.listStatus(p).toSeq
    val commitsDir = new org.apache.hadoop.fs.Path(p, "_cube_commits")
    val commits =
      if (hfs.exists(commitsDir))
        hfs.listStatus(commitsDir).toSeq
          .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption
            .map(_ -> st.getPath))
      else Seq.empty
    // latest marker whose CONTENT parses: a corrupt/empty marker (torn
    // write, FS fault) must not render the store unreadable — readers
    // fall back to the next-latest committed generation, whose fold and
    // still-live batch dirs are intact by the compaction ordering
    val parsedCommits = commits.sortBy(-_._1).map { case (g, path) =>
      g -> scala.util.Try {
        val in = hfs.open(path)
        try scala.io.Source.fromInputStream(in).mkString.trim.toLong
        finally in.close()
      }.toOption
    }
    val (gen, watermark) = parsedCommits
      .collectFirst { case (g, Some(wm)) => (g, wm) }
      .getOrElse((0L, -1L))
    val folded = kids
      .filter(st => st.isDirectory && st.getPath.getName == s"folded_gen=$gen")
      .map(_.getPath.toString).headOption
    // The fallback is SAFE exactly as far as the grace generation
    // reaches: the compaction cleanup retains the previous fold, its
    // marker, and the batch dirs folded this cycle until the NEXT commit,
    // so falling back one generation serves the complete store
    // exactly-once (previous fold + every retained epoch above its
    // watermark). Beyond that, serve-from-previous would silently
    // truncate — two loud failure modes, both meaning "the store's true
    // state is a newer generation whose watermark is unreadable; repair
    // the marker, don't serve": (a) NO marker parses at all yet a corrupt
    // marker's fold directory is present — the store was demonstrably
    // compacted and nothing older survives to fall back to, so the gen-0
    // default view (live batches only) is missing every folded epoch;
    // (b) a marker survived and resolves, but its own folded_gen dir is
    // gone — its grace window has expired (two newer commits ran). A
    // benign orphan fold (crash BEFORE its marker) trips neither: it has
    // no marker file, and the previous generation's fold is intact.
    if (parsedCommits.nonEmpty && parsedCommits.forall(_._2.isEmpty)) {
      val withFold = parsedCommits.map(_._1).filter(g => kids.exists(st =>
        st.isDirectory && st.getPath.getName == s"folded_gen=$g"))
      // One all-unparsable shape IS recoverable: a store compacted exactly
      // once (the only marker is generation 1, now torn). Generation 1's
      // cleanup deleted nothing — its snapshot watermark was −1 — so every
      // epoch ever landed is still a live batch dir and the gen-0 default
      // view below serves the COMPLETE store exactly-once. Any other
      // all-unparsable state means a later commit's cleanup ran (markers
      // below the latest commit's previous generation are swept, so two+
      // unparsable markers ⇒ two lost generations) — loud.
      val gen1OnlyTorn = parsedCommits.map(_._1) == Seq(1L)
      require(withFold.isEmpty || gen1OnlyTorn,
        s"cube store $dir: commit marker for generation " +
          s"${if (withFold.isEmpty) -1 else withFold.max} " +
          "exists but is unreadable, no older marker survives, and its " +
          "folded_gen directory is present — that commit happened and its " +
          "cleanup swept the pre-fold state. Refusing to serve the live " +
          "batches as if they were the whole store; restore the marker " +
          "(its content is the fold's max batch id)")
    }
    require(gen == 0L || folded.nonEmpty,
      s"cube store $dir: committed generation $gen resolved from the " +
        s"marker log, but folded_gen=$gen is missing — a newer commit's " +
        "cleanup ran and its marker is now unreadable. Refusing to serve " +
        "a silently truncated store (live batches only); restore the " +
        "newest marker")
    val live = kids
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
      .flatMap { st =>
        scala.util.Try(st.getPath.getName.stripPrefix("batch_id=").toLong)
          .toOption.map(_ -> st.getPath.toString)
      }
      .filter(_._1 > watermark)
      .sortBy(_._1)
    // a landing IN FLIGHT must be invisible: the offline compactor and
    // concurrent probes race foreachBatch by design, and listing a
    // half-written epoch either crashes the reader
    // (UNABLE_TO_INFER_SCHEMA on a _temporary-only dir — the ivfpq
    // streaming sweep caught it live) or, worse, SERVES a partially-
    // committed landing silently (task files promoted, _SUCCESS not yet
    // written). foreachBatch is serial, so ONLY the latest epoch can be
    // in flight — it alone is hidden when its committer marker
    // (`_SUCCESS` at the epoch root for flat/partitioned writes, or
    // inside an immediate visible subdir for multi-artifact epochs like
    // DedupLog's `sigs/`) has not landed yet; excluding it is
    // exactly-once, not loss — the landing either completes (visible on
    // the next view) or its batch is replayed. An OLDER epoch with data
    // but no marker cannot be in flight: it is either a crashed landing
    // whose batch was never replayed, or a deployment that disabled the
    // success marker (mapreduce.fileoutputcommitter.marksuccessfuljobs
    // =false, common on object stores) — both must fail LOUDLY, because
    // silently hiding every non-latest epoch serves committed data as
    // missing forever with no error. A marker-only dir (no visible
    // entries) is a fully-expired epoch: nothing left to serve.
    val maxLiveId = if (live.isEmpty) Long.MinValue else live.last._1
    val visibleLive = live.filter { case (id, p) =>
      val entries = hfs.listStatus(new org.apache.hadoop.fs.Path(p))
      def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
      val hasData = entries.exists(st => visible(st.getPath.getName))
      def committed = entries.exists(_.getPath.getName == "_SUCCESS") ||
        entries.exists(st => st.isDirectory && visible(st.getPath.getName) &&
          hfs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      if (!hasData) false
      else if (committed) true
      else {
        require(id == maxLiveId,
          s"cube store $dir: epoch batch_id=$id has data but no _SUCCESS " +
            "marker and a NEWER epoch exists, so it cannot be in flight " +
            "(landings are serial). Either the landing crashed and its " +
            "batch was never replayed, or the committer's success marker " +
            "is disabled (mapreduce.fileoutputcommitter." +
            "marksuccessfuljobs=false) — refusing to silently hide " +
            "committed data; replay the batch or restore the marker")
        false // the latest epoch: may be mid-landing, invisible until committed
      }
    }
    val roots = kids
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    View(roots, folded, visibleLive, watermark, gen)
  }

  /** True iff `batchId` is already inside the committed fold — the
    * appendBatch replay guard for SUM-merged stores. */
  def isFolded(spark: SparkSession, dir: String, batchId: Long): Boolean =
    batchId <= view(spark, dir).watermark

  // ---------------------------------------------------------------- //
  // Single-writer guard (r15): the commit watermark guards REPLAYS of
  // folded epochs, but nothing stopped two CONCURRENT jobs from landing
  // the same epoch id into one store — both pass the watermark check,
  // both mode("overwrite") into batch_id=N, and the interleaved task
  // files corrupt the epoch silently. Every landing now claims its
  // epoch first: an atomic create of `_claims/<id>` carrying the
  // writer's token. Exactly one creator wins; a loser whose token
  // differs fails LOUDLY while the epoch is incomplete (the winner is
  // mid-write or died — indistinguishable, so a human or the fsck
  // decides via releaseClaim), and proceeds as an idempotent replay
  // once the epoch carries its _SUCCESS. Claims of folded epochs are
  // swept with their batch dirs at compaction.
  // ---------------------------------------------------------------- //

  /** This job's claim token: `SPARK_GRAFT_WRITER` when set (a production
    * deployment gives each logical writer — e.g. one streaming query —
    * a stable token such as its checkpoint path, so a restarted driver
    * reclaims its own torn claims and self-heals), else a per-process
    * UUID (two distinct processes never collide silently). */
  lazy val defaultWriter: String = sys.env.getOrElse("SPARK_GRAFT_WRITER",
    s"proc-${java.util.UUID.randomUUID()}")

  private def claimPath(dir: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(dir, s"_claims/$batchId")

  private def readToken(hfs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = hfs.open(p)
    try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
  }

  /** Claim epoch `batchId` of the store at `dir` for `writer`, or fail
    * loudly if another writer holds it and its landing is not complete.
    * Atomic create (no overwrite) is the arbiter — HDFS-atomic; on object
    * stores without atomic create the claim degrades to best-effort
    * detection, still catching every non-simultaneous overlap. */
  def claimEpoch(spark: SparkSession, dir: String, batchId: Long,
      writer: String = defaultWriter): Unit = {
    val (hfs, _) = fs(spark, dir)
    val p = claimPath(dir, batchId)
    hfs.mkdirs(p.getParent)
    // the atomic arbiter: O_EXCL CREATE_NEW on the local filesystem
    // (Hadoop's RawLocalFileSystem create(f, overwrite=false) is an
    // exists-check followed by an open — two racing claimants can BOTH
    // pass the check, which is exactly the window this guard exists to
    // close; java.nio's CREATE_NEW maps to O_EXCL and loses that window),
    // HDFS-atomic create(f, false) everywhere else
    val uri = p.toUri
    val created =
      try {
        if (uri.getScheme == null || uri.getScheme == "file") {
          val local = java.nio.file.Paths.get(uri.getPath)
          try {
            java.nio.file.Files.write(local, writer.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } else {
          val out = hfs.create(p, false)
          try { out.write(writer.getBytes("UTF-8")); true } finally out.close()
        }
      } catch { case _: java.io.IOException => false }
    if (created) return
    val holder = readToken(hfs, p)
    if (holder == writer) return // our own retry/replay — reclaim
    // a FOREIGN claim: only a COMPLETED landing may be re-landed over
    // (idempotent overwrite); an incomplete epoch means the holder is
    // mid-write or died mid-write — indistinguishable, so fail loudly
    val epochDir = new org.apache.hadoop.fs.Path(dir, s"batch_id=$batchId")
    def completed = hfs.exists(epochDir) && {
      val entries = hfs.listStatus(epochDir)
      def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
      entries.exists(_.getPath.getName == "_SUCCESS") ||
        entries.exists(st => st.isDirectory && visible(st.getPath.getName) &&
          hfs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
    }
    if (!completed)
      throw new IllegalStateException(
        s"cube store $dir: epoch batch_id=$batchId is claimed by writer " +
          s"'$holder' and its landing is not complete — a concurrent job " +
          "is landing into this store (or died mid-write). Refusing to " +
          "interleave; if the holder is confirmed dead, run " +
          "CubeLog.releaseClaim and re-land")
    // completed foreign epoch: a cross-writer replay — take the claim
    // over so OUR overwrite (and any retry of it) is the owned one
    hfs.delete(p, false)
    val out = hfs.create(p, true)
    try out.write(writer.getBytes("UTF-8")) finally out.close()
  }

  /** Operator repair: drop the claim on `batchId` after confirming its
    * holder is dead (the fsck's torn-claim finding names this). Returns
    * true when a claim existed. */
  def releaseClaim(spark: SparkSession, dir: String, batchId: Long): Boolean = {
    val (hfs, _) = fs(spark, dir)
    hfs.delete(claimPath(dir, batchId), false)
  }

  /** Claims currently on disk with their holders and whether the claimed
    * epoch committed — the fsck's raw material. */
  private[sources] def claims(spark: SparkSession,
      dir: String): Seq[(Long, String, Boolean)] = {
    val (hfs, p) = fs(spark, dir)
    val cdir = new org.apache.hadoop.fs.Path(p, "_claims")
    if (!hfs.exists(cdir)) return Nil
    hfs.listStatus(cdir).toSeq.flatMap { st =>
      scala.util.Try(st.getPath.getName.toLong).toOption.map { id =>
        val epochDir = new org.apache.hadoop.fs.Path(dir, s"batch_id=$id")
        val committed = hfs.exists(epochDir) && {
          val entries = hfs.listStatus(epochDir)
          def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
          entries.exists(_.getPath.getName == "_SUCCESS") ||
            entries.exists(e => e.isDirectory && visible(e.getPath.getName) &&
              hfs.exists(new org.apache.hadoop.fs.Path(e.getPath, "_SUCCESS")))
        }
        (id, readToken(hfs, st.getPath), committed)
      }
    }
  }

  /** Read the store's CURRENT contents — root build files, the committed
    * fold, and live batch partials — as one frame of data columns (no
    * partition column: every group is addressed by explicit path). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = view(spark, dir)
    require(v.dataPaths.nonEmpty, s"empty cube store: $dir")
    graft.ops.Tables.cachedParquet(spark, v.dataPaths: _*)
  }

  /** Fold live batch partials (plus the previous fold) through `fold`
    * into the next generation, commit, clean up. Idempotent and safe to
    * run beside a live stream: only the snapshotted batch dirs are folded
    * and excluded — an epoch landing mid-compaction stays live for the
    * next run. Returns the committed generation (unchanged if there was
    * nothing to fold). `force` re-folds the existing fold even with no
    * live batches — for folds whose OUTPUT depends on a caller parameter
    * that advanced (e.g. [[HeavyHitterStore.compact]]'s day-closing
    * cutoff must finalize quiet days too). */
  def compact(spark: SparkSession, dir: String, force: Boolean = false)(
      fold: DataFrame => DataFrame): Long =
    compactFrom(spark, dir, force) { (v, out) =>
      val input = spark.read.parquet(
        (v.foldedDir.toSeq ++ v.liveBatches.map(_._2)): _*)
      fold(input)
        // |days|-bounded by the store contract: one file, severed lineage
        // (the fold must not lazily re-read directories about to be deleted)
        .coalesce(1)
        .localCheckpoint(eager = true)
        .write.mode("overwrite").parquet(out)
    }

  /** Generalized compaction for stores whose folded generation is not one
    * flat frame (e.g. [[VecStoreLog]]'s cell-partitioned index + codebook
    * sidecar): the caller writes the generation directory itself from the
    * snapshot view; CubeLog provides the snapshot, the atomic commit
    * marker, the crash ordering, and the cleanup sweep — identical
    * invariants to [[compact]]. */
  def compactFrom(spark: SparkSession, dir: String, force: Boolean = false)(
      write: (View, String) => Unit): Long = {
    val v = view(spark, dir)
    if (v.liveBatches.isEmpty && !(force && v.foldedDir.nonEmpty)) return v.gen
    val (hfs, p) = fs(spark, dir)
    val newGen = v.gen + 1
    val newWatermark = (v.watermark +: v.liveBatches.map(_._1)).max
    // clear a crash orphan of the SAME generation before writing: some
    // writers land the generation with mode("append") per subtree
    // (VecStore.build appends cell partitions), and
    // purgeGraceRetained deliberately keeps newer-gen orphans — so a fold
    // that crashed mid-write would otherwise have this retry append the
    // full corpus ON TOP of its partial files and commit a generation
    // with duplicate rows. The orphan is uncommitted by construction
    // (newGen > committed gen), so deleting it loses nothing.
    val orphan = new org.apache.hadoop.fs.Path(p, s"folded_gen=$newGen")
    if (hfs.exists(orphan)) hfs.delete(orphan, true)
    write(v, s"$dir/folded_gen=$newGen")
    // commit marker: content first to a temp name, then atomic rename
    val commitsDir = new org.apache.hadoop.fs.Path(p, "_cube_commits")
    hfs.mkdirs(commitsDir)
    val tmp = new org.apache.hadoop.fs.Path(commitsDir, s".$newGen.tmp")
    val out = hfs.create(tmp, true)
    try out.write(newWatermark.toString.getBytes("UTF-8")) finally out.close()
    val committed =
      hfs.rename(tmp, new org.apache.hadoop.fs.Path(commitsDir, newGen.toString))
    // a false return (the marker already exists — a concurrent compactor
    // won the race — or the FS refused the rename) must FAIL the
    // compaction, not silently proceed to cleanup: deleting batch dirs
    // against a commit that never happened is the one order that loses
    // data. The store stays readable at the previous generation; the
    // orphan fold dir and tmp marker are swept by the next successful run.
    require(committed,
      s"cube commit for generation $newGen failed: marker rename returned " +
        s"false (marker already present, or non-atomic filesystem); store " +
        s"remains at generation ${v.gen} — resolve before recompacting")
    // cleanup with a GRACE GENERATION (r12): the previous generation's
    // fold + marker and the batch dirs folded THIS cycle survive exactly
    // one more compaction cycle. Two failure modes this buys out of the
    // design instead of out of luck:
    //  - CONCURRENT READERS: on a cluster a probe races the offline
    //    compactor by construction. A reader that resolved the
    //    pre-commit view holds paths to the old fold and the batch dirs
    //    this fold just absorbed — deleting them mid-read fails the
    //    probe. With grace, any view at most one compaction old stays
    //    fully readable (the contract: probes are short, folds are
    //    rare); only the NEXT compaction sweeps it.
    //  - TORN NEWEST MARKER: if generation G's marker content is later
    //    corrupted, readers fall back to G−1 — whose fold AND live
    //    epochs (> watermark(G−1), retained by the same grace) still
    //    reconstruct the complete store, exactly-once. Before grace the
    //    fallback target was already swept and the only honest move was
    //    to fail loudly; that failure now needs TWO lost generations.
    // Readers never double-count retained-but-folded batch dirs: the
    // view filters live batches to id > watermark regardless of what is
    // on disk. Swept from a FRESH listing, not the snapshot, so
    // leftovers of a prior crashed run (orphan gens, expired-grace batch
    // dirs, stale markers) are collected too. Store size stays bounded:
    // ≤ 2 folds + ≤ 1 cycle of batch dirs.
    hfs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      val staleGen = n.startsWith("folded_gen=") &&
        scala.util.Try(n.stripPrefix("folded_gen=").toLong).toOption
          .exists(g => g != newGen && g != v.gen)
      val foldedBatch = n.startsWith("batch_id=") &&
        scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
          .exists(_ <= v.watermark)
      if (st.isDirectory && (staleGen || foldedBatch)) hfs.delete(st.getPath, true)
    }
    hfs.listStatus(commitsDir).foreach { st =>
      val stale = scala.util.Try(st.getPath.getName.toLong).toOption
        .exists(_ < v.gen)
      if (stale) hfs.delete(st.getPath, false)
    }
    // writer claims ride their epochs: swept on the same grace schedule
    // as the batch dirs they guarded (a folded epoch's claim has no
    // future use — the watermark short-circuits any replay first)
    val claimsDir = new org.apache.hadoop.fs.Path(p, "_claims")
    if (hfs.exists(claimsDir)) hfs.listStatus(claimsDir).foreach { st =>
      val stale = scala.util.Try(st.getPath.getName.toLong).toOption
        .exists(_ <= v.watermark)
      if (stale) hfs.delete(st.getPath, false)
    }
    newGen
  }

  /** Delete every grace-retained directory NOW: fold generations other
    * than the committed one, batch dirs at or under the commit watermark,
    * and markers below the committed generation. An ERASE must end with
    * this — the grace generation is a byte-level copy of PRE-ERASE state
    * (the previous fold and the batch dirs it absorbed), so without the
    * purge an erased document's rows persist on disk until the next
    * compaction (which never fires on a quiesced store), and the
    * torn-newest-marker fallback would SERVE them — an erased doc
    * resurfacing in answers, the opposite of the erase's contract.
    *
    * The purge trades the grace guarantees away for this store until its
    * next compaction, deliberately: a torn newest marker becomes a loud
    * failure instead of a fallback (nothing older survives to fall back
    * to), and a concurrent reader holding a pre-purge view can fail
    * mid-read. Both costs are the right side of the trade — erasure law
    * does not wait for a compaction cycle. NOT safe to run beside an
    * in-flight compaction of the same store (it would delete the fold
    * being written); erases and compactions are maintenance operations
    * the operator serializes per store, exactly like two compactions.
    * Idempotent. Returns directories deleted. */
  def purgeGraceRetained(spark: SparkSession, dir: String): Long = {
    val (hfs, p) = fs(spark, dir)
    if (!hfs.exists(p)) return 0L
    val v = view(spark, dir)
    var dropped = 0L
    hfs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      // STRICTLY OLDER generations only: a folded_gen dir with gen >
      // committed is an IN-FLIGHT fold (the streaming design runs
      // compactions in a side thread beside landings) or a benign crash
      // orphan — grace state is always the PREVIOUS generation, so
      // deleting a newer dir here would destroy a fold being written,
      // never purge pre-erase state. The next compaction sweeps orphans.
      val staleGen = n.startsWith("folded_gen=") &&
        scala.util.Try(n.stripPrefix("folded_gen=").toLong).toOption
          .exists(_ < v.gen)
      val foldedBatch = n.startsWith("batch_id=") &&
        scala.util.Try(n.stripPrefix("batch_id=").toLong).toOption
          .exists(_ <= v.watermark)
      if (st.isDirectory && (staleGen || foldedBatch)) {
        hfs.delete(st.getPath, true); dropped += 1
      }
    }
    val commitsDir = new org.apache.hadoop.fs.Path(p, "_cube_commits")
    if (hfs.exists(commitsDir)) hfs.listStatus(commitsDir).foreach { st =>
      val stale = scala.util.Try(st.getPath.getName.toLong).toOption
        .exists(_ < v.gen)
      if (stale) { hfs.delete(st.getPath, false); dropped += 1 }
    }
    dropped
  }
}
