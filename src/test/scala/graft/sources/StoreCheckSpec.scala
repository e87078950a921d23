package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The store fsck ([[StoreCheck]]): healthy stores audit clean (info-only
  * findings for expected log byproducts), and each deliberately-injected
  * corruption is detected with the right severity — structural (torn
  * markers inside vs beyond the grace window, missing folds, orphan
  * folds) and semantic (stats drift, duplicate postings, dangling dedup
  * labels after a signature-only delete). */
class StoreCheckSpec extends SparkSpec {
  import spark.implicits._

  private def errorsOf(fs: Seq[StoreCheck.Finding]) = fs.filter(_.severity == "error")

  private def postingStore(): String = {
    val dir = java.nio.file.Files.createTempDirectory("fsck_post_").toString + "/idx"
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text")
    (0L to 1L).foreach { e =>
      PostingLog.appendBatch(docs.filter(pmod($"doc_id", lit(3L)) === e), dir, e)
    }
    PostingLog.compact(spark, dir)
    PostingLog.appendBatch(docs.filter(pmod($"doc_id", lit(3L)) === 2L), dir, 2L)
    dir
  }

  test("healthy posting store: zero errors; grace retention reports as info") {
    val dir = postingStore()
    val findings = StoreCheck.checkPostingLog(spark, dir)
    assert(errorsOf(findings).isEmpty, s"unexpected errors: $findings")
    assert(findings.exists(f => f.check == "grace-retained" && f.severity == "info"),
      "the fold's grace-retained epochs must be reported as info")
  }

  test("stats drift and duplicate postings are detected as errors") {
    val dir = postingStore()
    // drift: re-land epoch 0's docs under a NEW epoch id (violates the
    // one-epoch-per-doc landing contract) — both checks must fire
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text")
    PostingLog.appendBatch(docs.filter(pmod($"doc_id", lit(3L)) === 0L), dir, 7L)
    val checks = StoreCheck.checkPostingLog(spark, dir).map(_.check).toSet
    assert(checks.contains("duplicate-posting"))
    // stats stay CONSISTENT under this corruption (the dup epoch brought
    // its own stats row) — now corrupt the stats side alone: delete the
    // live epoch 2's stats partition
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = CubeLog.view(spark, dir)
    val ep2 = v.liveBatches.find(_._1 == 2L).get._2
    assert(hfs.delete(new org.apache.hadoop.fs.Path(
      s"$ep2/tb=${PostingLog.StatsBucket}"), true))
    val checks2 = StoreCheck.checkPostingLog(spark, dir).map(_.check).toSet
    assert(checks2.contains("stats-drift"))
  }

  test("torn marker within the grace window is a warn; beyond it an error; missing fold an error") {
    val dir = postingStore()
    PostingLog.compact(spark, dir) // gen 2; gen 1 retained under grace
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m2 = new org.apache.hadoop.fs.Path(s"$dir/_cube_commits/2")
    hfs.create(m2, true).close() // torn
    val f1 = StoreCheck.checkCubeLog(spark, dir)
    assert(f1.exists(f => f.check == "torn-marker" && f.severity == "warn"),
      s"grace-covered torn marker must be a warn, got $f1")
    // beyond grace: the fallback generation's fold is gone too
    hfs.delete(new org.apache.hadoop.fs.Path(s"$dir/folded_gen=1"), true)
    val f2 = StoreCheck.checkCubeLog(spark, dir)
    assert(f2.exists(f => f.check == "torn-marker" && f.severity == "error") ||
      f2.exists(f => f.check == "missing-fold" && f.severity == "error"),
      s"unrecoverable loss must be an error, got $f2")
    // separate store: committed marker resolves but its own fold deleted
    val dir2 = postingStore()
    hfs.delete(new org.apache.hadoop.fs.Path(s"$dir2/folded_gen=1"), true)
    val f3 = StoreCheck.checkCubeLog(spark, dir2)
    assert(f3.exists(f => f.check == "missing-fold" && f.severity == "error"), s"$f3")
  }

  test("dedup store: clean audit, then a signature-only delete surfaces dangling labels") {
    val dir = java.nio.file.Files.createTempDirectory("fsck_dedup_").toString + "/st"
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text")
    (0L to 1L).foreach { e =>
      graft.llm.DedupLog.appendEpoch(docs.filter(pmod($"doc_id", lit(2L)) === e), dir, e)
    }
    assert(errorsOf(StoreCheck.checkDedupLog(spark, dir)).isEmpty)

    // the RTBF failure mode: remove a labeled doc's signature partitions
    // WITHOUT the label repair (bypassing eraseDocs)
    val labeled = graft.llm.DedupLog.labelsView(spark, dir)
      .select($"node").as[Long].head()
    val v = CubeLog.view(spark, dir)
    val roots = (v.foldedDir.toSeq ++ v.liveBatches.map(_._2)).map(r => s"$r/sigs")
    roots.foreach { root =>
      val cur = spark.read.parquet(root)
      val kept = cur.filter($"doc_id" =!= labeled).localCheckpoint(eager = true)
      kept.repartition($"sp").write.mode("overwrite").partitionBy("sp").parquet(root)
    }
    val findings = StoreCheck.checkDedupLog(spark, dir)
    assert(findings.exists(_.check == "dangling-label-node") ||
      findings.exists(_.check == "dangling-keeper"),
      s"signature-only delete must surface dangling labels, got $findings")
  }

  test("chunked posting store: per-date stats drift caught even when global sums cancel; axis mixing flagged") {
    val dir = java.nio.file.Files.createTempDirectory("fsck_chunk_").toString + "/idx"
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text")
      .withColumn("crawl_date", date_add(lit("2026-01-01").cast("date"),
        pmod($"doc_id", lit(2L)).cast("int")))
    PostingLog.appendBatch(docs, dir, 0L)
    PostingLog.compact(spark, dir)
    assert(errorsOf(StoreCheck.checkPostingLog(spark, dir)).isEmpty)

    // MOVE one populated tb dir from day 1 to day 2 (where that bucket is
    // re-named to an unused high id so no collision): per-date recounts
    // shift in opposite directions while the GLOBAL doc/dl sums stay
    // exactly equal — the pre-r14 global check cannot see this
    val gen = CubeLog.view(spark, dir).foldedDir.get.stripPrefix("file:")
    val d1 = new java.io.File(s"$gen/chunk_date=2026-01-01")
    val src = d1.listFiles().find(f => f.getName.startsWith("tb=") &&
      f.getName != "tb=-1").get
    val dst = new java.io.File(s"$gen/chunk_date=2026-01-02/tb=99")
    assert(src.renameTo(dst))
    val errs = errorsOf(StoreCheck.checkPostingLog(spark, dir))
    assert(errs.exists(_.check == "stats-drift-per-date"),
      s"per-date drift must be caught; got $errs")
    assert(dst.renameTo(src)) // restore
    assert(errorsOf(StoreCheck.checkPostingLog(spark, dir)).isEmpty)

    // a FLAT epoch dir inside the chunked store: the mixed-axis error
    val flatDocs = docs.select(($"doc_id" + 700000L).as("doc_id"), $"text")
    // every landing refuses a flat epoch into this chunked store, so land
    // it in a scratch store and move the epoch dir in: the fsck must flag
    // a store mixed behind the landings' back
    val flatDir = java.nio.file.Files.createTempDirectory("fsck_flat_src_").toString + "/idx"
    PostingLog.appendBatch(flatDocs.limit(50), flatDir, 0L)
    val flatEpoch = new java.io.File(flatDir, "batch_id=0")
    assert(flatEpoch.renameTo(new java.io.File(dir, "batch_id=5")))
    assert(errorsOf(StoreCheck.checkPostingLog(spark, dir))
      .exists(_.check == "mixed-retention-axis"))
  }

  test("cross-surface fsck: the bronze→derived crash window is named with its repair; an RTBF leak is flagged; repair converges") {
    val base = java.nio.file.Files.createTempDirectory("fsck_corpus_").toString
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text").limit(300).localCheckpoint(eager = true)
    val (b0, b1) = (docs.filter(pmod($"doc_id", lit(2L)) === 0L),
      docs.filter(pmod($"doc_id", lit(2L)) === 1L))

    // batch 0 lands everywhere; batch 1 commits bronze then "crashes"
    // before the derived landings — the startIndexedIngest crash window
    val landed0 = DocStore.appendDedupedLanded(spark, b0, s"$base/bronze", 0L).get
    PostingLog.appendBatch(landed0, s"$base/postings", 0L)
    graft.llm.DedupLog.appendEpoch(landed0, s"$base/dedup", 0L)
    DocStore.appendDedupedLanded(spark, b1, s"$base/bronze", 1L)
    val crashed = StoreCheck.checkCorpus(spark, s"$base/bronze",
      s"$base/postings", s"$base/dedup")
    val missing = crashed.filter(_.check == "derived-missing")
    assert(missing.size === 2, s"both derived surfaces must flag; got $crashed")
    assert(missing.forall(f => f.detail.contains("landedSlice") && f.detail.contains("1")),
      "the finding names the repair path and the affected batch id")

    // the named repair: landedSlice re-derives batch 1, the idempotent
    // landings finish — the fsck converges to clean
    val slice = DocStore.landedSlice(spark, s"$base/bronze", 1L).get
    PostingLog.appendBatch(slice, s"$base/postings", 1L)
    graft.llm.DedupLog.appendEpoch(slice, s"$base/dedup", 1L)
    assert(errorsOf(StoreCheck.checkCorpus(spark, s"$base/bronze",
      s"$base/postings", s"$base/dedup")).isEmpty)

    // the opposite direction: bronze forgets a doc, the derived stores
    // still serve its derivatives — the RTBF leak finding
    val victim = landed0.select($"doc_id").as[Long].head(1).toSeq
    DocStore.eraseDocs(spark, s"$base/bronze", victim)
    val leaked = StoreCheck.checkCorpus(spark, s"$base/bronze",
      s"$base/postings", s"$base/dedup")
    assert(leaked.count(_.check == "derived-orphan") === 2, s"got $leaked")
    // finishing the orchestrated erase clears it
    PostingLog.eraseDocs(spark, s"$base/postings", victim)
    graft.llm.DedupLog.eraseDocs(spark, s"$base/dedup", victim)
    assert(errorsOf(StoreCheck.checkCorpus(spark, s"$base/bronze",
      s"$base/postings", s"$base/dedup")).isEmpty)
  }

  private def corpusVecs = graft.ops.Tables.embeddingsParallel(spark, sf0001)
    .select($"vec_id", $"label", $"embedding")

  test("vec store: clean audit after land→fold→erase; injected orphan cell, missing codebook, norm drift detected") {
    val dir = java.nio.file.Files.createTempDirectory("fsck_vec_").toString + "/st"
    (0L to 1L).foreach { e =>
      VecStoreLog.appendBatch(corpusVecs.filter(pmod($"vec_id", lit(2L)) === e), dir, e)
    }
    VecStoreLog.compact(spark, dir, cellK = Some(VecStore.CellK))
    VecStoreLog.appendBatch(corpusVecs.filter($"vec_id" < 10)
      .select(($"vec_id" + 50000L).as("vec_id"), $"label", $"embedding"), dir, 2L)
    assert(errorsOf(StoreCheck.checkVecStoreLog(spark, dir)).isEmpty)
    // an ERASE must leave the audit clean too (the erase specs' contract)
    VecStoreLog.eraseByIds(spark, dir, Seq(0L, 37L, 74L))
    assert(errorsOf(StoreCheck.checkVecStoreLog(spark, dir)).isEmpty)

    val gen = CubeLog.view(spark, dir).foldedDir.get
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // orphan cell: a cell dir with an id no trained centroid has
    val someCell = new java.io.File(gen.stripPrefix("file:")).listFiles()
      .filter(_.getName.startsWith("cell=")).head
    val orphan = new org.apache.hadoop.fs.Path(s"$gen/cell=999")
    org.apache.hadoop.fs.FileUtil.copy(hfs, new org.apache.hadoop.fs.Path(
      someCell.getPath), hfs, orphan, false, spark.sparkContext.hadoopConfiguration)
    assert(StoreCheck.checkVecStoreLog(spark, dir).exists(_.check == "orphan-cell"))
    hfs.delete(orphan, true)
    // duplicate vector: the same ids landed in a second live epoch
    VecStoreLog.appendBatch(corpusVecs.filter($"vec_id" < 10)
      .select(($"vec_id" + 50000L).as("vec_id"), $"label", $"embedding"), dir, 3L)
    assert(StoreCheck.checkVecStoreLog(spark, dir).exists(_.check == "duplicate-vector"))
    hfs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch_id=3"), true)
    // missing codebook: the generation loses _centroids
    hfs.delete(new org.apache.hadoop.fs.Path(s"$gen/_centroids"), true)
    assert(StoreCheck.checkVecStoreLog(spark, dir).exists(_.check == "missing-centroids"))
  }

  test("ivfpq store: clean audit after land→fold→erase; one-tree-only erase caught both ways; missing artifact detected") {
    val dir = java.nio.file.Files.createTempDirectory("fsck_ivfpq_").toString + "/st"
    IvfPqLog.appendBatch(corpusVecs, dir, 0L)
    IvfPqLog.compact(spark, dir)
    assert(errorsOf(StoreCheck.checkIvfPqLog(spark, dir)).isEmpty)
    IvfPqLog.eraseByIds(spark, dir, Seq(0L, 37L, 74L))
    assert(errorsOf(StoreCheck.checkIvfPqLog(spark, dir)).isEmpty)

    val gen = CubeLog.view(spark, dir).foldedDir.get
    // the RTBF failure mode: clean ONE tree only (bypassing eraseByIds) —
    // referential integrity must fire in the matching direction
    val someId = spark.read.parquet(s"$gen/codes")
      .select($"vec_id").as[Long].head()
    def rewriteWithout(sub: String, id: Long): Unit = {
      val cur = spark.read.parquet(s"$gen/$sub")
      val kept = cur.filter($"vec_id" =!= id).localCheckpoint(eager = true)
      Store.refreshMartPartitions(kept, s"$gen/$sub", "cell")
    }
    rewriteWithout("vectors", someId)
    assert(StoreCheck.checkIvfPqLog(spark, dir).exists(_.check == "codes-without-vector"))
    rewriteWithout("codes", someId)
    assert(errorsOf(StoreCheck.checkIvfPqLog(spark, dir)).isEmpty,
      "both trees cleaned — integrity restored")
    val otherId = spark.read.parquet(s"$gen/codes")
      .select($"vec_id").as[Long].head()
    rewriteWithout("codes", otherId)
    assert(StoreCheck.checkIvfPqLog(spark, dir).exists(_.check == "vector-without-code"))
    rewriteWithout("vectors", otherId)

    // missing artifact
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$gen/codebooks_packed"), true)
    assert(StoreCheck.checkIvfPqLog(spark, dir).exists(_.check == "missing-artifact"))
  }
}
