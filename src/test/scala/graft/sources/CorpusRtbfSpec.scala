package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The orchestrated RTBF ([[CorpusRtbf.eraseEverywhere]]): one request
  * cleans bronze, hash index, posting index, and dedup state; the audit
  * receipt counts per surface; replays no-op everywhere; and erasure
  * releases the content's suppression state (a re-submission of the same
  * text lands as a NEW document — the hash left the index). */
class CorpusRtbfSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("data", "join", "scan")

  test("one request erases every surface; replay no-ops; re-submission re-lands") {
    val root = java.nio.file.Files.createTempDirectory("rtbf_").toString
    val (bronze, postings, dedup) =
      (s"$root/store", s"$root/postings", s"$root/dedup")
    val (vec, ivfpq) = (s"$root/vec", s"$root/ivfpq")
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text").localCheckpoint(eager = true)
    val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
      .select($"vec_id", $"label", $"embedding").localCheckpoint(eager = true)

    // land the corpus in two epochs through the same calls the indexed
    // streaming ingest makes
    (0L to 1L).foreach { e =>
      DocStore.appendDedupedLanded(spark,
        docs.filter(pmod($"doc_id", lit(2L)) === e), bronze, e)
        .foreach { landed =>
          PostingLog.appendBatch(landed, postings, e)
          graft.llm.DedupLog.appendEpoch(landed, dedup, e)
        }
      VecStoreLog.appendBatch(emb.filter(pmod($"vec_id", lit(2L)) === e), vec, e)
      IvfPqLog.appendBatch(emb.filter(pmod($"vec_id", lit(2L)) === e), ivfpq, e)
    }
    VecStoreLog.compact(spark, vec, cellK = Some(VecStore.CellK))
    IvfPqLog.compact(spark, ivfpq)
    val landedIds = spark.read.parquet(s"$bronze/docs")
      .select($"doc_id").as[Long].collect().toSet

    // the request: every 37th id, plus ids never landed (dup-dropped at
    // ingest) — those must be a no-op, not an error
    val ids = (0L to landedIds.max by 37L).toSeq
    val requestedLanded = ids.filter(landedIds)
    assert(requestedLanded.nonEmpty)
    val erasedTexts = spark.read.parquet(s"$bronze/docs")
      .filter($"doc_id".isin(requestedLanded: _*))
      .select($"doc_id", $"text").as[(Long, String)].collect()

    val receipt = CorpusRtbf.eraseEverywhere(spark, ids, bronze, postings, dedup,
      vec, ivfpq)
    assert(receipt("bronze_docs") === requestedLanded.size.toLong)
    assert(receipt("posting_index") > 0L)
    assert(receipt("vec_index") > 0L)
    assert(receipt("ivfpq_index") > 0L)

    // every surface clean
    assert(spark.read.parquet(s"$bronze/docs")
      .filter($"doc_id" % 37 === 0).count() === 0L)
    val erasedHashes = erasedTexts.map(t => org.apache.commons.codec.digest
      .DigestUtils.md5Hex(t._2)).toSet
    val idxLeft = spark.read.parquet(s"$bronze/hash_index")
      .select($"content_hash").as[String].collect().toSet
    assert(erasedHashes.intersect(idxLeft).isEmpty,
      "erased content hashes must leave the suppression index")
    assert(PostingLog.probe(spark, postings, terms)
      .filter($"doc_id" % 37 === 0).count() === 0L)
    assert(graft.llm.DedupLog.sigsAll(spark, dedup)
      .filter($"doc_id" % 37 === 0).count() === 0L)
    assert(graft.llm.DedupLog.labelsView(spark, dedup)
      .filter($"node" % 37 === 0 || $"label" % 37 === 0).count() === 0L)
    // both vector surfaces clean: no erased id in any stored leg
    assert(VecStoreLog.vectors(spark, vec)
      .filter($"vec_id" % 37 === 0).count() === 0L)
    val ivfGen = CubeLog.view(spark, ivfpq).foldedDir.get
    Seq("codes", "vectors").foreach { sub =>
      assert(spark.read.parquet(s"$ivfGen/$sub")
        .filter($"vec_id" % 37 === 0).count() === 0L,
        s"ivfpq $sub must not hold erased ids")
    }

    // replay: all five surfaces report zero
    val replay = CorpusRtbf.eraseEverywhere(spark, ids, bronze, postings, dedup,
      vec, ivfpq)
    assert(replay.values.forall(_ === 0L), s"replay must no-op, got $replay")

    // the right to be forgotten is not the right to never be stored
    // again: the SAME content re-submitted under a new doc_id is a new
    // landing — its hash no longer suppresses it
    val (gone, goneText) = erasedTexts.head
    val resubmit = Seq((landedIds.max + 1000L, goneText)).toDF("doc_id", "text")
    val n = DocStore.appendDeduped(spark, resubmit, bronze, 99L)
    assert(n === 1L, s"re-submitted erased content must re-land (erased doc $gone)")
  }

  test("governance lifecycle composes on one chunked corpus: expire a day, then erase survivors, cross-surface fsck clean throughout") {
    val root = java.nio.file.Files.createTempDirectory("rtbf_lifecycle_").toString
    val (bronze, postings, dedup) =
      (s"$root/store", s"$root/postings", s"$root/dedup")
    val (vec, ivfpq) = (s"$root/vec", s"$root/ivfpq")
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text")
      .withColumn("crawl_date", date_add(lit("2026-01-01").cast("date"),
        pmod($"doc_id", lit(3L)).cast("int")))
      .localCheckpoint(eager = true)
    val emb = VecStoreLog.withCrawlDates(
      graft.ops.Tables.embeddingsParallel(spark, sf0001)
        .select($"vec_id", $"label", $"embedding")).localCheckpoint(eager = true)

    // all five surfaces land CHUNKED on one crawl calendar
    (0L to 1L).foreach { e =>
      DocStore.appendDedupedLanded(spark,
        docs.filter(pmod($"doc_id", lit(2L)) === e), bronze, e)
        .foreach { landed =>
          PostingLog.appendBatch(
            landed.withColumn("crawl_date", $"chunk_date"), postings, e)
          graft.llm.DedupLog.appendEpoch(
            landed.withColumn("crawl_date", $"chunk_date"), dedup, e)
        }
      VecStoreLog.appendBatch(emb.filter(pmod($"vec_id", lit(2L)) === e), vec, e)
      IvfPqLog.appendBatch(emb.filter(pmod($"vec_id", lit(2L)) === e), ivfpq, e)
    }
    VecStoreLog.compact(spark, vec, cellK = Some(VecStore.CellK))
    IvfPqLog.compact(spark, ivfpq)

    def fsckAll(): Unit = {
      val findings =
        StoreCheck.checkCorpus(spark, bronze, postings, dedup, Some(vec), Some(ivfpq)) ++
          StoreCheck.checkPostingLog(spark, postings) ++
          StoreCheck.checkDedupLog(spark, dedup) ++
          StoreCheck.checkVecStoreLog(spark, vec) ++
          StoreCheck.checkIvfPqLog(spark, ivfpq)
      assert(!findings.exists(_.severity == "error"), findings.mkString("; "))
    }
    fsckAll()

    // phase 1 — retention through the VERIFIED mode (r15): the receipt
    // itself carries the cross-surface + per-store fsck counts
    val dropped = CorpusRtbf.expireEverywhere(spark, "2026-01-02",
      bronze, postings, dedup, vec, ivfpq, verified = true)
    assert(dropped("fsck_errors") === 0L,
      s"a verified retention drive must end fsck-clean: $dropped")
    assert(dropped.filterNot(k => k._1.startsWith("fsck_")).values.forall(_ > 0L),
      s"every surface drops dirs: $dropped")
    fsckAll()
    assert(spark.read.parquet(s"$bronze/docs")
      .filter($"chunk_date" < lit("2026-01-02").cast("date")).count() === 0L)

    // phase 2 — RTBF on the retained corpus: a survivor id list through
    // every surface (incl. the chunked bronze composite rewrite)
    val survivors = spark.read.parquet(s"$bronze/docs")
      .select($"doc_id").as[Long].collect().toSet
    val req = survivors.toSeq.sorted.take(7)
    val receipt = CorpusRtbf.eraseEverywhere(spark, req,
      bronze, postings, dedup, vec, ivfpq, verified = true)
    assert(receipt("bronze_docs") === req.size.toLong)
    assert(receipt("fsck_errors") === 0L,
      s"a verified erase must end fsck-clean: $receipt")
    fsckAll()
    assert(spark.read.parquet(s"$bronze/docs")
      .filter($"doc_id".isin(req: _*)).count() === 0L)
    assert(CorpusRtbf.eraseEverywhere(spark, req,
      bronze, postings, dedup, vec, ivfpq).values.forall(_ === 0L), "replay no-ops")

    // phase 3 — retention again AFTER the erase (the operations commute
    // on the store state they both leave behind)
    CorpusRtbf.expireEverywhere(spark, "2026-01-03", bronze, postings, dedup,
      vec, ivfpq)
    fsckAll()
    val left = spark.read.parquet(s"$bronze/docs")
      .select($"doc_id").as[Long].collect().toSet
    assert(left.nonEmpty && left.forall(id => id % 3 == 2 && !req.contains(id)),
      "only day-3 survivors outside the erase request remain")
  }
}
