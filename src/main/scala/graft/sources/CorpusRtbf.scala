package graft.sources

import graft.GraftQuery
import graft.GraftQuery.q
import graft.ops.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ONE deletion request, EVERY surface — the orchestrated right-to-be-
  * forgotten for the indexed corpus pipeline. A training-data platform
  * does not hold a document once: the bronze store has its text, the
  * hash index its content digest, the posting index its term statistics
  * and positions, the dedup state its MinHash signatures and cluster
  * membership — every one content-derived, every one personal data
  * under erasure law, and forgetting the bronze row alone leaves a
  * document that still ranks in search results and still anchors a
  * duplicate cluster. This orchestrator drives the same surfaces
  * [[graft.streaming.DocStream.startIndexedIngest]] maintains, each
  * through its own bounded-rewrite erase:
  *
  *  - bronze + hash index — [[DocStore.eraseDocs]] (affected `batch_id=`
  *    partitions only; the hash leaves the suppression index, so
  *    re-submitted content is a new landing, not a suppressed dup);
  *  - posting index — [[PostingLog.eraseDocs]] (affected `tb=` term
  *    buckets + the doc's epoch; BM25 stats decremented in the same
  *    rewrite);
  *  - dedup state — [[graft.llm.DedupLog.eraseDocs]] (signature
  *    partitions + label repair of exactly the touched components).
  *
  * Each surface is idempotent under replay, so the orchestration needs
  * no transaction: a crash mid-request is repaired by re-running the
  * SAME request — completed surfaces no-op, incomplete ones finish.
  * That is the same at-least-once + idempotence discipline the landing
  * path uses, applied to deletion. Returns rows removed per surface
  * (the audit receipt a deletion request legally needs).
  *
  * Residual-retention window: NONE. Every CubeLog-managed surface's
  * erase ends with [[CubeLog.purgeGraceRetained]], so the
  * grace-generation dirs (byte-level copies of PRE-erase state) are
  * deleted in the same request — [[graft.sources.RtbfGraceSpec]]'s
  * on-disk sweep is the proof. The purge costs that store its
  * torn-marker fallback until its next compaction (a loud failure
  * replaces the fallback), which is the correct side of the trade:
  * a fallback that can resurrect erased documents is not a safety
  * feature under erasure law. */
object CorpusRtbf {

  /** Run independent per-surface drives concurrently (r15, guide §2.6:
    * Spark actions are only sequential because the driver calls them
    * sequentially). The surfaces touch DISJOINT directories, only read
    * session conf, and each drive is internally ordered by its own
    * thunk, so overlapping them changes wall-clock, never results —
    * profiled: the orchestrated replay paid 5× sequential small-job
    * latency for jobs that back-fill each other's stragglers when
    * submitted together. A failed surface still fails the whole request
    * loudly (the first error is rethrown — after every sibling drive has
    * finished, so no background thread is still writing when the caller
    * unwinds into a retry or fsck). */
  private def inParallel[A](tasks: Seq[(String, () => A)]): Map[String, A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      // lift to Try and await ALL drives before surfacing any failure: a
      // fail-fast Future.sequence would rethrow while sibling drives keep
      // mutating their stores in background threads, letting a caller's
      // retry (or the harness's fsck) interleave with still-running writes
      val fs = tasks.map { case (k, t) =>
        scala.concurrent.Future((k, scala.util.Try(t())))
      }
      val done = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf)
      done.collectFirst { case (_, scala.util.Failure(e)) => throw e }
      done.map { case (k, r) => (k, r.get) }.toMap
    } finally pool.shutdown()
  }

  /** Both VECTOR surfaces ride the same request (r13): `vecDir` is the
    * maintained ANN index ([[VecStoreLog]]) and `ivfpqDir` the maintained
    * compressed index ([[IvfPqLog]]) — embeddings and PQ codes of an
    * erased document are content derivatives exactly like its hash,
    * postings, and signatures, and by the hybrid query's own convention
    * (`PostingLog.hybridRrf`) doc_id ≡ vec_id, so one id list addresses
    * every surface. */
  def eraseEverywhere(
      spark: SparkSession,
      ids: Seq[Long],
      bronzeDir: String,
      postingDir: String,
      dedupDir: String,
      vecDir: String,
      ivfpqDir: String,
      verified: Boolean = false): Map[String, Long] = {
    val receipt = inParallel(Seq(
      "bronze_docs" -> (() => DocStore.eraseDocs(spark, bronzeDir, ids)),
      "posting_index" -> (() => PostingLog.eraseDocs(spark, postingDir, ids)),
      "dedup_state" -> (() => graft.llm.DedupLog.eraseDocs(spark, dedupDir, ids)),
      "vec_index" -> (() => VecStoreLog.eraseByIds(spark, vecDir, ids)),
      "ivfpq_index" -> (() => IvfPqLog.eraseByIds(spark, ivfpqDir, ids))))
    if (!verified) receipt
    else receipt ++ fsckReceipt(spark, bronzeDir, postingDir, dedupDir,
      vecDir, ivfpqDir)
  }

  /** The VERIFIED mode's audit tail (r15): the cross-surface fsck
    * ([[StoreCheck.checkCorpus]] — bronze↔derived in both directions,
    * which is exactly where an erase/retention drive that missed a
    * surface shows up) plus each maintained store's own fsck, folded into
    * the receipt as severity counts. A clean run carries
    * `fsck_errors = 0`; a nonzero count means the orchestration left the
    * corpus inconsistent and the receipt SAYS so — the audit artifact and
    * the integrity check are one document. */
  def fsckReceipt(
      spark: SparkSession,
      bronzeDir: String,
      postingDir: String,
      dedupDir: String,
      vecDir: String,
      ivfpqDir: String): Map[String, Long] = {
    // five independent read-only sweeps, overlapped (guide §2.6); the
    // receipt's severity COUNTS are order-insensitive
    val findings = inParallel(Seq(
      "corpus" -> (() => StoreCheck.checkCorpus(spark, bronzeDir, postingDir,
        dedupDir, Some(vecDir), Some(ivfpqDir))),
      "posting" -> (() => StoreCheck.checkPostingLog(spark, postingDir)),
      "dedup" -> (() => StoreCheck.checkDedupLog(spark, dedupDir)),
      "vec" -> (() => StoreCheck.checkVecStoreLog(spark, vecDir)),
      "ivfpq" -> (() => StoreCheck.checkIvfPqLog(spark, ivfpqDir))))
      .values.flatten.toSeq
    Map(
      "fsck_errors" -> findings.count(_.severity == "error").toLong,
      "fsck_warnings" -> findings.count(_.severity == "warn").toLong)
  }

  /** ONE retention cutoff, EVERY surface — the retention twin of
    * [[eraseEverywhere]] (r14; the r13 verdict's #3 missing item). The
    * reference's analogue is the 7-day Kafka retention + 1-day hypertable
    * `drop_chunks` (docker-compose.yml:40-42, 01_create_schema.sql:98-101)
    * — one policy, every storage layer. Each surface drops its pre-cutoff
    * `chunk_date=` directories driver-side (zero data rows read; the
    * dedup surface additionally repairs labels for components that lost
    * expired members — its own [[graft.llm.DedupLog.expireBefore]]
    * contract), each is idempotent, so the orchestration needs no
    * transaction: a crash mid-cutoff is repaired by re-running the SAME
    * cutoff — completed surfaces drop zero dirs, incomplete ones finish.
    * Returns date-directories dropped per surface. All five stores must
    * have been landed CHUNKED — a surface without the axis fails loudly
    * rather than silently retaining (each store's own require). */
  def expireEverywhere(
      spark: SparkSession,
      cutoff: String,
      bronzeDir: String,
      postingDir: String,
      dedupDir: String,
      vecDir: String,
      ivfpqDir: String,
      verified: Boolean = false): Map[String, Long] = {
    val receipt = inParallel(Seq(
      "bronze_docs" -> (() => DocStore.expireBefore(spark, bronzeDir, cutoff)),
      "posting_index" -> (() => PostingLog.expireBefore(spark, postingDir, cutoff)),
      "dedup_state" -> (() => graft.llm.DedupLog.expireBefore(spark, dedupDir, cutoff)),
      "vec_index" -> (() => VecStoreLog.expireBefore(spark, vecDir, cutoff)),
      "ivfpq_index" -> (() => IvfPqLog.expireBefore(spark, ivfpqDir, cutoff))))
    if (!verified) receipt
    else receipt ++ fsckReceipt(spark, bronzeDir, postingDir, dedupDir,
      vecDir, ivfpqDir)
  }

  /** Rows each surface still holds — the auditable half of a retention
    * receipt (expiry itself reads no rows, so the receipt counts
    * SURVIVORS; a declarative oracle can re-derive every number). */
  def retainedCounts(
      spark: SparkSession,
      bronzeDir: String,
      postingDir: String,
      dedupDir: String,
      vecDir: String,
      ivfpqDir: String): Map[String, Long] =
    inParallel(Seq(
      "bronze_docs" -> (() => Tables.cachedParquet(spark, s"$bronzeDir/docs").count()),
      "posting_index" -> (() => PostingLog.postingRowCount(spark, postingDir)),
      "dedup_state" -> (() => graft.llm.DedupLog.storedDocRows(spark, dedupDir)),
      "vec_index" -> (() => VecStoreLog.vectors(spark, vecDir).count()),
      "ivfpq_index" -> (() => IvfPqLog.storedRows(spark, ivfpqDir))))

  // ---------------------------------------------------------------- //
  // Registered query                                                 //
  // ---------------------------------------------------------------- //

  private lazy val root: String =
    s"${sys.props("java.io.tmpdir")}/graft_corpus_rtbf/${java.util.UUID.randomUUID()}"

  /** Per-(JVM, dataset): the five maintained stores built from the full
    * corpus, the orchestrated erase run ONCE, and its receipt cached —
    * replays of the same request on later invocations are idempotent
    * no-ops whose audit numbers are the REQUEST's, not the replay's. */
  private val built =
    scala.collection.mutable.Map.empty[String, (Seq[String], Map[String, Long])]

  private def erasedStores(s: SparkSession, d: String): (Seq[String], Map[String, Long]) =
    built.synchronized {
      built.getOrElseUpdate(d, {
        val base = s"$root/${new java.io.File(d).getName}"
        val path = new org.apache.hadoop.fs.Path(base)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val dirs @ Seq(bronze, posting, dedup, vec, ivfpq) =
          Seq("bronze", "posting", "dedup", "vec", "ivfpq").map(t => s"$base/$t")
        val docs = Tables.documentsParallel(s, d).select(col("doc_id"), col("text"))
        val emb = Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("label"), col("embedding"))
        // five INDEPENDENT store builds, overlapped (r15, guide §2.6) —
        // each store's landings/folds stay ordered inside its own thunk;
        // the stores write disjoint directories. Bronze: one landing
        // (in-batch keeper = min doc_id per content, the oracle's
        // MIN(doc_id) GROUP BY text); posting + dedup: the landedStore
        // shape (fold + one live epoch); both vector stores all-folded
        // over the full corpus (the codebooks train PRE-erase — an erase
        // never retrains them, exactly what the oracle's full-corpus
        // Lloyd replicates).
        inParallel(Seq(
          "bronze" -> (() => DocStore.appendDeduped(s, docs, bronze, 0L)),
          "posting" -> { () =>
            (0L to 1L).foreach { e =>
              PostingLog.appendBatch(
                docs.filter(pmod(col("doc_id"), lit(3L)) === e), posting, e)
            }
            PostingLog.compact(s, posting)
            PostingLog.appendBatch(
              docs.filter(pmod(col("doc_id"), lit(3L)) === 2L), posting, 2L)
          },
          "dedup" -> { () =>
            (0L to 1L).foreach { e =>
              graft.llm.DedupLog.appendEpoch(
                docs.filter(pmod(col("doc_id"), lit(3L)) === e), dedup, e)
            }
            graft.llm.DedupLog.compact(s, dedup)
            graft.llm.DedupLog.appendEpoch(
              docs.filter(pmod(col("doc_id"), lit(3L)) === 2L), dedup, 2L)
          },
          "vec" -> { () =>
            (0L to 2L).foreach { e =>
              VecStoreLog.appendBatch(
                emb.filter(pmod(col("vec_id"), lit(3L)) === e), vec, e)
            }
            VecStoreLog.compact(s, vec, cellK = Some(VecStore.CellK))
          },
          "ivfpq" -> { () =>
            (0L to 2L).foreach { e =>
              IvfPqLog.appendBatch(
                emb.filter(pmod(col("vec_id"), lit(3L)) === e), ivfpq, e)
            }
            IvfPqLog.compact(s, ivfpq)
          }))
        val maxId = math.max(
          docs.agg(max(col("doc_id")).cast("long")).head().getLong(0),
          emb.agg(max(col("vec_id")).cast("long")).head().getLong(0))
        val receipt = eraseEverywhere(s, ErasureStore.eraseIdsUpTo(maxId),
          bronze, posting, dedup, vec, ivfpq)
        (dirs, receipt)
      })
    }

  /** ONE deletion request across all five surfaces, end to end as a
    * registered query: the stores are built maintained (fold + live
    * epochs on the text surfaces, trained generations on both vector
    * surfaces), the [[ErasureStore]] request (doc_id ≡ 0 mod 37) is
    * orchestrated through [[eraseEverywhere]], and the output is the
    * HYBRID two-tower probe over the erased posting + ANN stores with
    * the per-surface audit receipt attached as columns. The oracle
    * re-derives both towers declaratively over the SURVIVOR corpus (the
    * vector codebook deliberately trains over the FULL corpus — an
    * erase never retrains centroids) and each receipt count from the
    * corpus tables, so hash equality proves in one statement: the
    * erased docs rank in neither tower, the surviving ranks re-derive
    * exactly, and every surface removed exactly the requested rows.
    * Replays of the request are idempotent; the receipt is the first
    * (real) run's. */
  lazy val eraseEverywhereQuery: GraftQuery =
    q("corpus_erase_everywhere",
      PostingLog.hybridOracleSql("doc_id % 37 <> 0", "vec_id % 37 <> 0",
        withReceipt = true)) { (s, d) =>
      val (dirs, receipt) = erasedStores(s, d)
      val Seq(bronze, posting, dedup, vec, ivfpq) = dirs
      // replay the SAME request — every surface must no-op (the bench
      // reps re-drive the idempotence path, like every erase query)
      val maxId = math.max(
        Tables.documents(s, d).agg(max(col("doc_id")).cast("long")).head().getLong(0),
        Tables.embeddings(s, d).agg(max(col("vec_id")).cast("long")).head().getLong(0))
      eraseEverywhere(s, ErasureStore.eraseIdsUpTo(maxId),
        bronze, posting, dedup, vec, ivfpq)
      PostingLog.hybridRrf(s, posting, vec, d)
        .withColumn("bronze_removed", lit(receipt("bronze_docs")))
        .withColumn("posting_removed", lit(receipt("posting_index")))
        .withColumn("dedup_removed", lit(receipt("dedup_state")))
        .withColumn("vec_removed", lit(receipt("vec_index")))
        .withColumn("ivfpq_removed", lit(receipt("ivfpq_index")))
    }

  /** Per-(JVM, dataset): the five maintained stores built CHUNKED on the
    * shared crawl calendar (day = 2026-01-01 + id mod 3), the one-cutoff
    * retention drive run ONCE, and the post-expiry retained counts
    * cached — replays of the same cutoff drop zero dirs and the audit
    * numbers stay the cutoff's. Text surfaces keep a live epoch beside
    * the fold (every crawl day spans both legs); both vector stores fold
    * everything so their codebooks train over the FULL corpus, which is
    * exactly what the declarative oracle replicates (expiry never
    * retrains). */
  private val builtExpired =
    scala.collection.mutable.Map.empty[String, (Seq[String], Map[String, Long])]

  private def expiredStores(s: SparkSession, d: String): (Seq[String], Map[String, Long]) =
    builtExpired.synchronized {
      builtExpired.getOrElseUpdate(d, {
        val base = s"$root/${new java.io.File(d).getName}_expired"
        val path = new org.apache.hadoop.fs.Path(base)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val dirs @ Seq(bronze, posting, dedup, vec, ivfpq) =
          Seq("bronze", "posting", "dedup", "vec", "ivfpq").map(t => s"$base/$t")
        val docs = Tables.documentsParallel(s, d).select(col("doc_id"), col("text"))
          .withColumn("crawl_date", date_add(lit("2026-01-01").cast("date"),
            pmod(col("doc_id"), lit(3L)).cast("int")))
        val emb = VecStoreLog.withCrawlDates(Tables.embeddingsParallel(s, d)
          .select(col("vec_id"), col("label"), col("embedding")))
        // five INDEPENDENT chunked store builds, overlapped (r15, guide
        // §2.6) — per-store ordering preserved inside each thunk. Posting
        // + dedup: fold + one live epoch, epochs sliced mod 2 so every
        // crawl day spans both legs.
        inParallel(Seq(
          "bronze" -> (() => DocStore.appendDeduped(s, docs, bronze, 0L)),
          "posting" -> { () =>
            PostingLog.appendBatch(
              docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), posting, 0L)
            PostingLog.compact(s, posting)
            PostingLog.appendBatch(
              docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), posting, 1L)
          },
          "dedup" -> { () =>
            graft.llm.DedupLog.appendEpoch(
              docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), dedup, 0L)
            graft.llm.DedupLog.compact(s, dedup)
            graft.llm.DedupLog.appendEpoch(
              docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), dedup, 1L)
          },
          "vec" -> { () =>
            (0L to 2L).foreach { e =>
              VecStoreLog.appendBatch(
                emb.filter(pmod(col("vec_id"), lit(3L)) === e), vec, e)
            }
            VecStoreLog.compact(s, vec, cellK = Some(VecStore.CellK))
          },
          "ivfpq" -> { () =>
            (0L to 2L).foreach { e =>
              IvfPqLog.appendBatch(
                emb.filter(pmod(col("vec_id"), lit(3L)) === e), ivfpq, e)
            }
            IvfPqLog.compact(s, ivfpq)
          }))
        // the VERIFIED drive (r15): the cutoff ends with the cross-surface
        // + per-store fscks; the receipt carries the clean bit the oracle
        // checks as a column
        val receipt = expireEverywhere(s, "2026-01-02", bronze, posting,
          dedup, vec, ivfpq, verified = true)
        val counts = retainedCounts(s, bronze, posting, dedup, vec, ivfpq) +
          ("fsck_errors" -> receipt("fsck_errors"))
        (dirs, counts)
      })
    }

  /** ONE retention cutoff across all five surfaces, end to end as a
    * registered query — the retention twin of [[eraseEverywhereQuery]]:
    * five calendar-chunked maintained stores, one
    * [[expireEverywhere]](2026-01-02) drive (directory drops on every
    * surface, label repair on the dedup state), then the HYBRID two-tower
    * probe over the expired posting + ANN stores with the per-surface
    * RETAINED-row counts attached as the audit receipt. The oracle
    * re-derives both towers over the survivor corpus (crawl day ≥ cutoff
    * ⟺ id % 3 ≠ 0; the vector codebook deliberately trains over the full
    * corpus — expiry never retrains) and every receipt count from the
    * corpus tables, so hash equality proves in one statement: expired
    * docs rank in neither tower, surviving ranks re-derive exactly, and
    * each surface holds exactly the retained rows. Replays of the cutoff
    * are idempotent; the receipt is the cutoff's. */
  lazy val expireEverywhereQuery: GraftQuery =
    q("corpus_expire_everywhere",
      PostingLog.hybridExpireOracleSql("doc_id % 3 <> 0", "vec_id % 3 <> 0")) { (s, d) =>
      val (dirs, counts) = expiredStores(s, d)
      val Seq(bronze, posting, dedup, vec, ivfpq) = dirs
      // replay the SAME cutoff — every surface must drop zero dirs (the
      // bench reps re-drive the idempotence path)
      expireEverywhere(s, "2026-01-02", bronze, posting, dedup, vec, ivfpq)
      PostingLog.hybridRrf(s, posting, vec, d)
        .withColumn("bronze_remaining", lit(counts("bronze_docs")))
        .withColumn("posting_remaining", lit(counts("posting_index")))
        .withColumn("dedup_remaining", lit(counts("dedup_state")))
        .withColumn("vec_remaining", lit(counts("vec_index")))
        .withColumn("ivfpq_remaining", lit(counts("ivfpq_index")))
        .withColumn("fsck_errors", lit(counts("fsck_errors")))
    }
}
