package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consistency audit (fsck) for the maintained stores — the check an
  * on-call runs BEFORE trusting a store after an incident, and the
  * monitoring job runs on a schedule. Two layers:
  *
  *  - **structural** ([[checkCubeLog]]): the [[CubeLog]] transaction-log
  *    invariants, reported instead of thrown — torn/unreadable markers
  *    (with whether the grace generation still covers recovery), a
  *    committed generation whose fold is missing, orphan folds from
  *    crashed compactions, leftover `.tmp` markers, grace-retained batch
  *    dirs (informational: readers ignore them by watermark);
  *  - **semantic** ([[checkPostingLog]], [[checkDedupLog]]): cross-row
  *    invariants a targeted-rewrite bug would break silently — the
  *    posting store's additive stats rows vs a recount from the postings
  *    themselves, (term, doc) uniqueness, the dedup store's
  *    label↔signature referential integrity (an erased doc that still
  *    anchors a label is an RTBF failure), per-doc signature uniqueness.
  *
  * Severity contract: `error` = the store answers wrongly or not at all
  * (repair before serving); `warn` = recoverable state needing action
  * (e.g. torn marker within the grace window); `info` = expected
  * byproducts of the log discipline (grace retention, orphan folds).
  * Checks read metadata + narrow column scans only — never payload
  * columns (embeddings, positions, text). */
object StoreCheck {

  final case class Finding(severity: String, check: String, detail: String)

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Structural audit of any CubeLog-managed store directory. */
  def checkCubeLog(spark: SparkSession, dir: String): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    val (hfs, p) = fsOf(spark, dir)
    if (!hfs.exists(p)) return Seq(Finding("error", "exists", s"store dir missing: $dir"))
    val kids = hfs.listStatus(p).toSeq
    val commitsDir = new org.apache.hadoop.fs.Path(p, "_cube_commits")
    val markers =
      if (hfs.exists(commitsDir)) hfs.listStatus(commitsDir).toSeq else Seq.empty
    markers.filter(_.getPath.getName.endsWith(".tmp")).foreach { st =>
      out += Finding("warn", "tmp-marker",
        s"leftover uncommitted marker ${st.getPath.getName} (crashed commit; " +
          "swept by the next successful compaction)")
    }
    val parsed = markers
      .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption.map(_ -> st.getPath))
      .sortBy(-_._1)
      .map { case (g, path) =>
        val wm = scala.util.Try {
          val in = hfs.open(path)
          try scala.io.Source.fromInputStream(in).mkString.trim.toLong
          finally in.close()
        }.toOption
        (g, wm)
      }
    val foldGens = kids.filter(st => st.isDirectory &&
      st.getPath.getName.startsWith("folded_gen="))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("folded_gen=").toLong).toOption)
      .toSet
    parsed.filter(_._2.isEmpty).foreach { case (g, _) =>
      val fallback = parsed.find { case (g2, wm) => g2 < g && wm.nonEmpty }
      // generation-1-only torn: gen 1's cleanup deleted nothing (snapshot
      // watermark −1), so the gen-0 view of live batch dirs is complete —
      // CubeLog.view serves it (see its all-unparsable carve-out)
      val gen1Only = g == 1L && parsed.map(_._1) == Seq(1L)
      val recoverable = gen1Only || fallback.exists { case (g2, _) =>
        g2 == 0L || foldGens.contains(g2) }
      if (recoverable)
        out += Finding("warn", "torn-marker",
          s"marker for generation $g unreadable; generation " +
            s"${fallback.map(_._1).getOrElse(0L)} still covers recovery " +
            "(grace window) — restore the marker (content = the fold's max batch id)")
      else
        out += Finding("error", "torn-marker",
          s"marker for generation $g unreadable and no readable generation " +
            "survives — the store cannot prove its watermark; restore the marker")
    }
    val resolved = parsed.collectFirst { case (g, Some(wm)) => (g, wm) }
    resolved.foreach { case (g, wm) =>
      if (g > 0L && !foldGens.contains(g))
        out += Finding("error", "missing-fold",
          s"committed generation $g resolved from the marker log but " +
            s"folded_gen=$g is missing — refusing state; restore the fold or " +
            "the newer marker")
      val live = kids.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
        .flatMap(st => scala.util.Try(
          st.getPath.getName.stripPrefix("batch_id=").toLong).toOption)
      val retained = live.count(_ <= wm)
      if (retained > 0)
        out += Finding("info", "grace-retained",
          s"$retained folded batch dir(s) at or under watermark $wm retained " +
            "for the grace window (readers ignore them; next compaction sweeps)")
      foldGens.filter(fg => fg != g && !parsed.exists(_._1 == fg)).foreach { fg =>
        out += Finding("info", "orphan-fold",
          s"folded_gen=$fg has no commit marker (crashed compaction before " +
            "commit; invisible to readers, overwritten by the next run)")
      }
    }
    if (resolved.isEmpty && foldGens.nonEmpty && parsed.isEmpty)
      out += Finding("info", "orphan-fold",
        s"fold dir(s) ${foldGens.toSeq.sorted.mkString(",")} with an empty " +
          "marker log — crashed first compaction; readers serve live batches")
    // writer claims (r15 single-writer guard): a claim whose epoch never
    // committed is TORN — its holder is either mid-write right now or
    // died mid-write; surface it with the named repair instead of letting
    // the next same-id landing discover it as a hard failure
    CubeLog.claims(spark, dir).foreach { case (id, holder, committed) =>
      if (!committed)
        out += Finding("warn", "torn-claim",
          s"epoch batch_id=$id is claimed by writer '$holder' but has no " +
            "committed data — an in-flight landing, or a writer that died " +
            "mid-write; if the holder is confirmed dead, " +
            "CubeLog.releaseClaim clears it")
    }
    out.toSeq
  }

  /** One store, one retention-axis layout: roots disagreeing on the
    * presence of `chunk_date` mean a flat epoch landed into a chunked
    * store (or vice versa) — the next fold's unionByName dies and expiry
    * silently misses the flat rows. Every landing refuses the mix
    * ([[CubeLog.requireLayout]]), but a store landed by older builds, or
    * written behind the landings' back, needs the fsck to say so. Read
    * off directory names ([[CubeLog.isChunkedRoot]]) — no Spark job. */
  private def axisFindings(spark: SparkSession, roots: Seq[String],
      what: String): Seq[Finding] = {
    val byAxis = roots.groupBy(CubeLog.isChunkedRoot(spark, _))
    if (byAxis.size <= 1) Seq.empty
    else Seq(Finding("error", "mixed-retention-axis",
      s"$what mixes calendar-chunked and flat roots " +
        s"(${byAxis(true).size} chunked, ${byAxis(false).size} flat) — " +
        "folds and expiry cannot serve both; re-land the minority layout"))
  }

  /** Semantic audit of a [[PostingLog]] store: the additive stats rows
    * must equal a recount from the postings — GLOBALLY and, on
    * calendar-chunked stores, PER CHUNK DATE (per-date drift can cancel
    * in the global sums: a date-misfiled posting run moves recounts
    * between days without changing the totals, and retention would then
    * expire the wrong rows) — and (term, doc) must be unique store-wide.
    * Reads (doc_id, dl, tb[, chunk_date]) / (term, doc_id, tb) — never
    * positions. */
  def checkPostingLog(spark: SparkSession, dir: String): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    out ++= checkCubeLog(spark, dir)
    if (out.exists(_.severity == "error")) return out.toSeq
    // a fully-expired root holds only its markers
    val roots = PostingLog.dataRoots(spark, dir)
    if (roots.isEmpty) return out.toSeq
    out ++= axisFindings(spark, roots.map(_.path), s"posting store $dir")
    if (out.exists(_.severity == "error")) return out.toSeq
    val chunked = roots.head.chunked
    def all(cols: Seq[String]): DataFrame =
      roots.map(r => PostingLog.readRoot(spark, r).select(cols.map(col): _*))
        .reduce(_ unionByName _)
    if (chunked) {
      import spark.implicits._
      val statsByDate = all(Seq("tf", "dl", "tb", "chunk_date"))
        .filter(col("tb") === PostingLog.StatsBucket)
        .groupBy(col("chunk_date").cast("string").as("d"))
        .agg(coalesce(sum(col("tf")), lit(0L)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("t"))
      val recountByDate = all(Seq("doc_id", "dl", "tb", "chunk_date"))
        .filter(col("tb") =!= PostingLog.StatsBucket)
        .groupBy(col("chunk_date").cast("string").as("d"), col("doc_id"))
        .agg(max(col("dl")).as("dl"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("rn"), coalesce(sum(col("dl")), lit(0L)).as("rt"))
      val drifted = statsByDate.join(recountByDate, Seq("d"), "full_outer")
        .filter(coalesce(col("n"), lit(0L)) =!= coalesce(col("rn"), lit(0L)) ||
          coalesce(col("t"), lit(0L)) =!= coalesce(col("rt"), lit(0L)))
        .select(col("d")).as[String].collect().sorted
      if (drifted.nonEmpty)
        out += Finding("error", "stats-drift-per-date",
          s"chunk date(s) ${drifted.mkString(", ")} have stats rows disagreeing " +
            "with their postings recount — retention would expire the wrong " +
            "rows for those days; rebuild the stats rows at the next fold")
    }
    val stats = all(Seq("tf", "dl", "tb")).filter(col("tb") === PostingLog.StatsBucket)
      .agg(coalesce(sum(col("tf")), lit(0L)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("t"))
      .head()
    val recount = all(Seq("doc_id", "dl", "tb")).filter(col("tb") =!= PostingLog.StatsBucket)
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("t"))
      .head()
    if (stats.getLong(0) != recount.getLong(0) || stats.getLong(1) != recount.getLong(1))
      out += Finding("error", "stats-drift",
        s"stats rows say (n_docs=${stats.getLong(0)}, total_dl=${stats.getLong(1)}) " +
          s"but the postings recount to (${recount.getLong(0)}, ${recount.getLong(1)}) — " +
          "a landing or erase updated one side only; rebuild the stats row at the next fold")
    val dupes = all(Seq("term", "doc_id", "tb")).filter(col("tb") =!= PostingLog.StatsBucket)
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    if (dupes > 0)
      out += Finding("error", "duplicate-posting",
        s"$dupes (term, doc) pairs appear more than once — a doc landed in " +
          "two epochs (landing-contract violation); boolean/BM25 answers are inflated")
    out.toSeq
  }

  /** Semantic audit of a [[graft.llm.DedupLog]] store: every label row's
    * node AND keeper must have a stored signature (a dangling node means
    * an erase removed signatures without repairing labels — the RTBF
    * failure mode), and signatures are unique per doc. */
  def checkDedupLog(spark: SparkSession, dir: String): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    out ++= checkCubeLog(spark, dir)
    if (out.exists(_.severity == "error")) return out.toSeq
    val v = CubeLog.view(spark, dir)
    val sigRoots = (v.foldedDir.toSeq ++ v.liveBatches.map(_._2))
      .map(r => s"$r/sigs")
      .filter { r =>
        val p = new org.apache.hadoop.fs.Path(r)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
    out ++= axisFindings(spark, sigRoots, s"dedup store $dir (sig roots)")
    if (out.exists(_.severity == "error")) return out.toSeq
    val sigs = graft.llm.DedupLog.sigsAll(spark, dir).select(col("doc_id"))
      .localCheckpoint(eager = true)
    val sigDupes = sigs.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    if (sigDupes > 0)
      out += Finding("error", "duplicate-signature",
        s"$sigDupes doc(s) carry more than one stored signature — a doc " +
          "landed in two epochs; pair estimates may duplicate")
    val labels = graft.llm.DedupLog.labelsView(spark, dir)
    val danglingNodes = labels.join(sigs, labels("node") === sigs("doc_id"), "left_anti").count()
    val danglingKeepers = labels.select(col("label").as("doc_id")).distinct()
      .join(sigs, Seq("doc_id"), "left_anti").count()
    if (danglingNodes > 0)
      out += Finding("error", "dangling-label-node",
        s"$danglingNodes label row(s) reference a doc with no stored signature — " +
          "an erase removed signatures without repairing labels (RTBF leak)")
    if (danglingKeepers > 0)
      out += Finding("error", "dangling-keeper",
        s"$danglingKeepers cluster keeper id(s) have no stored signature — " +
          "keeper re-election did not run after an erase")
    out.toSeq
  }

  /** Sample size for the quantized-norm recompute — norm2 is derived
    * (FixedPointDot(qv, qv)) and 64 ints/row, so the bound keeps the
    * check metadata-cheap while still catching a rewrite that changed qv
    * without recomputing norm2. */
  private val NormSampleRows = 1000

  private def normDrift(vecs: DataFrame): Long =
    vecs.select(col("qv"), col("norm2")).limit(NormSampleRows)
      .filter(graft.functions.FixedPointDot(col("qv"), col("qv")) =!= col("norm2"))
      .count()

  /** Semantic audit of a [[VecStoreLog]] store: the committed
    * generation's `_centroids` codebook must exist, every `cell=`
    * partition must map to a trained centroid (an orphan cell dir after
    * an erase serves vectors no probe can reach), and vec_ids are unique
    * store-wide (fold ∪ live epochs — the landing contract). No norm
    * check here: the generation stores RAW embeddings (qv/norm2 are
    * derived at probe time), so there is no stored derived value to
    * drift — unlike [[IvfPqLog]]'s quantized vectors tree. */
  def checkVecStoreLog(spark: SparkSession, dir: String): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    out ++= checkCubeLog(spark, dir)
    if (out.exists(_.severity == "error")) return out.toSeq
    val v = CubeLog.view(spark, dir)
    val (hfs, _) = fsOf(spark, dir)
    v.foldedDir.foreach { f =>
      if (!hfs.exists(new org.apache.hadoop.fs.Path(s"$f/_centroids")))
        out += Finding("error", "missing-centroids",
          s"committed generation $f has no _centroids codebook — probes " +
            "cannot rank cells; retrain (compact) or restore the sidecar")
      else {
        val centIds = VecStore.codebook(spark, f).cids.toSet
        val cellDirs = hfs.listStatus(new org.apache.hadoop.fs.Path(f))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
          .flatMap(st => scala.util.Try(
            st.getPath.getName.stripPrefix("cell=").toLong).toOption)
        cellDirs.filterNot(centIds).foreach { c =>
          out += Finding("error", "orphan-cell",
            s"cell=$c holds vectors but no trained centroid has id $c — " +
              "no probe can ever rank into it (unreachable vectors); refold")
        }
      }
    }
    val roots = v.foldedDir.toSeq ++ v.liveBatches.map(_._2)
    if (roots.nonEmpty) {
      val ids = roots.map(r => spark.read.parquet(r).select(col("vec_id")))
        .reduce(_ unionByName _)
      val dupes = ids.groupBy(col("vec_id")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).count()
      if (dupes > 0)
        out += Finding("error", "duplicate-vector",
          s"$dupes vec_id(s) stored more than once across fold ∪ live epochs " +
            "— a vector landed in two epochs; probe candidates duplicate")
    }
    out.toSeq
  }

  /** Semantic audit of an [[IvfPqLog]] store: the committed generation's
    * four artifacts must all exist (cells, cells_packed,
    * codebooks_packed, codes, vectors), codes↔vectors referential
    * integrity holds in BOTH directions on (vec_id, cell) — a targeted
    * cell rewrite that cleaned one tree but not the other is the RTBF
    * failure mode here — coarse cell ids map to trained centroids on
    * both trees, vec_ids are unique, and quantized norms recompute
    * (sampled). */
  def checkIvfPqLog(spark: SparkSession, dir: String): Seq[Finding] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    out ++= checkCubeLog(spark, dir)
    if (out.exists(_.severity == "error")) return out.toSeq
    val v = CubeLog.view(spark, dir)
    val (hfs, _) = fsOf(spark, dir)
    val intact = v.foldedDir.filter { f =>
      val missing = Seq("cells", "cells_packed", "codebooks_packed", "codes",
        "vectors").filterNot(sub =>
        hfs.exists(new org.apache.hadoop.fs.Path(s"$f/$sub")))
      if (missing.nonEmpty)
        out += Finding("error", "missing-artifact",
          s"committed generation $f is missing ${missing.mkString(", ")} — " +
            "the ADC probe cannot run; refold")
      missing.isEmpty
    }
    intact.foreach { f =>
      import spark.implicits._
      val codes = spark.read.parquet(s"$f/codes")
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
      val vecs = spark.read.parquet(s"$f/vectors")
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
      val codesOnly = codes.join(vecs, Seq("vec_id", "cell"), "left_anti").count()
      val vecsOnly = vecs.join(codes, Seq("vec_id", "cell"), "left_anti").count()
      if (codesOnly > 0)
        out += Finding("error", "codes-without-vector",
          s"$codesOnly code row(s) have no matching (vec_id, cell) in vectors " +
            "— an erase cleaned vectors but not codes: erased content still " +
            "ranks in the ADC shortlist (RTBF leak) or the rerank will drop it silently")
      if (vecsOnly > 0)
        out += Finding("error", "vector-without-code",
          s"$vecsOnly vector row(s) have no matching (vec_id, cell) in codes " +
            "— an erase cleaned codes but not vectors: erased embeddings " +
            "persist on disk (RTBF leak)")
      val centIds = spark.read.parquet(s"$f/cells")
        .select(col("c_id").cast("long")).as[Long].collect().toSet
      Seq("codes", "vectors").foreach { sub =>
        val cellDirs = hfs
          .listStatus(new org.apache.hadoop.fs.Path(s"$f/$sub"))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
          .flatMap(st => scala.util.Try(
            st.getPath.getName.stripPrefix("cell=").toLong).toOption)
        cellDirs.filterNot(centIds).foreach { c =>
          out += Finding("error", "orphan-cell",
            s"$sub/cell=$c exists but no coarse centroid has id $c — " +
              "unreachable by any probe; refold")
        }
      }
      val dupes = codes.groupBy(col("vec_id")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).count()
      if (dupes > 0)
        out += Finding("error", "duplicate-code",
          s"$dupes vec_id(s) encoded more than once in the generation — " +
            "ADC candidates duplicate")
      val drift = normDrift(spark.read.parquet(s"$f/vectors"))
      if (drift > 0)
        out += Finding("error", "norm-drift",
          s"$drift sampled vector(s) carry norm2 ≠ dot(qv, qv) — the exact " +
            "rerank is wrong; refold")
      // the layout-constant sidecar (`_ck`, the `_nb` discipline): probes
      // derive their width from it, so a sidecar disagreeing with the
      // trained cells count mis-probes every query
      val ckPath = new org.apache.hadoop.fs.Path(f, "_ck")
      if (hfs.exists(ckPath)) {
        val ck = IvfPqLog.storedCoarseK(spark, f)
        if (ck.toLong != centIds.size.toLong)
          out += Finding("error", "coarse-k-mismatch",
            s"generation $f records _ck=$ck but trained ${centIds.size} " +
              "coarse cells — probes derive their width from the sidecar " +
              "and would mis-probe; refold (the fold rewrites the sidecar)")
      }
    }
    out.toSeq
  }

  /** CROSS-SURFACE audit of one indexed corpus (r14): each store can be
    * internally consistent while the corpus as a whole is not — the exact
    * state a crash between the bronze write and the derived landings
    * leaves ([[graft.streaming.DocStream.startIndexedIngest]]'s
    * at-least-once window), or an erase/expiry that cleaned bronze but
    * missed a derived surface. Two directions per derived store, both as
    * pruned id-column scans:
    *
    *  - bronze doc absent from a derived store = the CRASH-WINDOW ORPHAN:
    *    the landing committed bronze and died before the derived landings
    *    — repairable, and the finding names the repair
    *    ([[DocStore.landedSlice]] re-derives the batch; the derived
    *    landings are overwrite-idempotent, so re-landing is safe);
    *  - derived doc absent from bronze = an RTBF/retention LEAK: bronze
    *    forgot the document but a content derivative still serves.
    *
    * The vector surfaces are optional and compared under the corpus
    * convention doc_id ≡ vec_id ([[CorpusRtbf]]); pass None when the
    * embedding stream is decoupled from the text corpus. */
  def checkCorpus(spark: SparkSession, bronzeDir: String, postingDir: String,
      dedupDir: String, vecDir: Option[String] = None,
      ivfpqDir: Option[String] = None): Seq[Finding] = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
    val bronze = spark.read.parquet(s"$bronzeDir/docs")
      .select(col("doc_id"), col("batch_id")).localCheckpoint(eager = true)
    val bronzeIds = bronze.select(col("doc_id")).distinct()

    def compare(surface: String, ids: DataFrame, idCol: String): Unit = {
      val derived = ids.select(col(idCol).as("doc_id")).distinct()
      val missing = bronzeIds.join(derived, Seq("doc_id"), "left_anti")
        .join(bronze, Seq("doc_id"), "left_semi") // keep batch attribution cheap
      val nMissing = missing.count()
      if (nMissing > 0) {
        val batches = bronze.join(missing, Seq("doc_id"), "left_semi")
          .select(col("batch_id").cast("long")).distinct()
          .as[Long].collect().sorted.take(10)
        out += Finding("error", "derived-missing",
          s"$nMissing bronze doc(s) are absent from the $surface — the " +
            s"crash-window orphan (bronze committed, derived landing lost); " +
            s"re-land bronze batch id(s) ${batches.mkString(", ")} through " +
            "DocStore.landedSlice + the store's appendBatch (overwrite-" +
            "idempotent, so re-landing is safe)")
      }
      val orphans = derived.join(bronzeIds, Seq("doc_id"), "left_anti").count()
      if (orphans > 0)
        out += Finding("error", "derived-orphan",
          s"$orphans doc(s) in the $surface have no bronze row — an erase or " +
            "expiry cleaned bronze but left this surface's content " +
            "derivatives serving (RTBF/retention leak); replay the request " +
            "against this store")
    }

    compare("posting index", PostingLog.storedDocIds(spark, postingDir), "doc_id")
    compare("dedup state",
      graft.llm.DedupLog.sigsAll(spark, dedupDir).select(col("doc_id")), "doc_id")
    vecDir.foreach(d => compare("vector index",
      VecStoreLog.vectors(spark, d).select(col("vec_id")), "vec_id"))
    ivfpqDir.foreach(d => compare("IVF-PQ index",
      IvfPqLog.storedIds(spark, d), "vec_id"))
    out.toSeq
  }
}
