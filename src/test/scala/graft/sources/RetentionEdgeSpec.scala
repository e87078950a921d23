package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** Edge cases at the retention/erase/commit seams (r14 hardening):
  *
  *  1. a chunked-posting erase that empties a (chunk_date, tb) COMPOSITE
  *     without emptying its date must delete the composite directory —
  *     dynamic overwrite writes nothing for it and a date-level compare
  *     misses it, so pre-fix the erased postings stayed on disk and
  *     probe-servable (an RTBF leak the audit receipt counted as erased);
  *  2. a committed fold root fully emptied by expiry (every chunk_date
  *     dropped, `_SUCCESS` left) must read as data-free — probes answer
  *     from the surviving legs, folds still run, and a fully-expired
  *     store fails loudly instead of dying on schema inference;
  *  3. the dedup BATCH regime must land the retention axis when docs
  *     carry it (one store, one layout — mixing fails loudly at the
  *     landing, not at the next compact's unionByName);
  *  4. a CubeLog epoch is visible only once its writer COMMITTED
  *     (`_SUCCESS` at the epoch root or inside a visible subdir) — task
  *     files promoted before the job marker must not serve;
  *  5. [[CubeLog.purgeGraceRetained]] deletes STRICTLY OLDER generations
  *     only — a folded_gen dir newer than the committed one is an
  *     in-flight fold a concurrent erase must not destroy.
  *
  * r15 hardening (the r14 advice items):
  *
  *  6. only the LATEST epoch may hide behind a missing `_SUCCESS` (it
  *     alone can be in flight — landings are serial); an OLDER epoch with
  *     data but no marker is a crashed-unreplayed landing or a disabled
  *     committer marker, and the view fails LOUDLY instead of silently
  *     serving committed data as missing forever;
  *  7. [[CubeLog.compactFrom]] clears a crash-orphaned output generation
  *     before the writer runs — append-mode fold writers (the VecStore
  *     build shape) must not stack the full corpus on top of a previous
  *     attempt's partial files and commit duplicates;
  *  8. the refuse-to-empty retention guard also protects a NEVER-FOLDED
  *     chunked store: live epochs are its serving state, and a cutoff
  *     sweeping every live date would leave a store whose every probe
  *     fails "empty";
  *  9. an explicit FIRST-landing bucket count is validated like
  *     [[PostingLog.rebucket]]'s (positive power of two) — it becomes the
  *     permanent store layout, so a count that forfeits the local-split
  *     property must be refused at the door.
  */
class RetentionEdgeSpec extends SparkSpec {
  import spark.implicits._

  private def rootsOnDisk(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("batch_id=") || f.getName.startsWith("folded_gen=")))
      .map(_.getPath)

  test("chunked posting erase deletes fully-emptied (chunk_date, tb) composites — no on-disk RTBF leak") {
    // two terms in two DIFFERENT buckets, chosen arithmetically so the
    // construction holds at any bucket count
    val t1 = "alpha"
    val b1 = PostingStore.h64(t1) % PostingLog.NBuckets
    val t2 = Seq("beta", "gamma", "delta", "omega", "sigma")
      .find(t => PostingStore.h64(t) % PostingLog.NBuckets != b1).get
    val docs = Seq(
      (1L, s"$t1 $t1", "2026-01-01"),
      (2L, s"$t2 $t2 $t2", "2026-01-01"),
      (3L, s"$t2 $t1 $t2", "2026-01-02"))
      .toDF("doc_id", "text", "d")
      .withColumn("crawl_date", col("d").cast("date")).drop("d")
    val dir = Files.createTempDirectory("posting_comp_").toString + "/idx"
    PostingLog.appendBatch(docs, dir, 0L)
    PostingLog.compact(spark, dir)

    // erase doc 1: the ONLY holder of term t1 on 2026-01-01 — its
    // composite (2026-01-01, tb=b1) empties while the date keeps t2's
    // bucket and its (decremented) stats row
    assert(PostingLog.eraseDocs(spark, dir, Seq(1L)) === 1L) // one (term, doc) row

    // the leak test: NO root on disk may hold a doc-1 row (raw reads of
    // every surviving batch/fold dir — the RtbfGraceSpec sweep)
    rootsOnDisk(dir).foreach { r =>
      assert(spark.read.parquet(r).filter(col("doc_id") === 1L).count() === 0L,
        s"erased doc's postings must not survive anywhere on disk: $r")
    }
    val gen = CubeLog.view(spark, dir).foldedDir.get.stripPrefix("file:")
    assert(!new File(s"$gen/chunk_date=2026-01-01/tb=$b1").exists(),
      "a composite emptied by the erase must have its directory deleted")
    assert(new File(s"$gen/chunk_date=2026-01-01").exists(),
      "the date keeps its other buckets")
    // survivors answer; stats decremented exactly (docs 2 and 3 remain)
    assert(PostingLog.probe(spark, dir, Seq(t1)).select(col("doc_id"))
      .as[Long].collect().toSet === Set(3L))
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() === ((2L, 6L)))
    assert(!StoreCheck.checkPostingLog(spark, dir).exists(_.severity == "error"))
  }

  test("a fold root fully emptied by expiry reads as data-free; a fully-expired store fails loudly") {
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text").limit(200)
      .withColumn("crawl_date",
        when(pmod($"doc_id", lit(2L)) === 0L, lit("2026-01-01"))
          .otherwise(lit("2026-01-02")).cast("date"))
      .localCheckpoint(eager = true)
    val dir = Files.createTempDirectory("posting_expfold_").toString + "/idx"
    // fold holds ONLY day 1; the live epoch holds ONLY day 2
    PostingLog.appendBatch(docs.filter($"crawl_date" === lit("2026-01-01").cast("date")), dir, 0L)
    PostingLog.compact(spark, dir)
    PostingLog.appendBatch(docs.filter($"crawl_date" === lit("2026-01-02").cast("date")), dir, 1L)

    assert(PostingLog.expireBefore(spark, dir, "2026-01-02") > 0L)
    // the committed fold is now _SUCCESS-only — probes must answer from
    // the live leg instead of dying on UNABLE_TO_INFER_SCHEMA
    val day2 = docs.filter($"crawl_date" === lit("2026-01-02").cast("date"))
    val expected = day2
      .select(size(graft.llm.TextAnalysis.words($"text")).cast("long").as("dl"))
      .agg(count(lit(1)), sum($"dl")).as[(Long, Long)].head()
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() === expected)
    // folds still run over the surviving legs
    PostingLog.compact(spark, dir)
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() === expected)
    // expire EVERYTHING: the store is empty and says so loudly
    assert(PostingLog.expireBefore(spark, dir, "2026-01-03") > 0L)
    val ex = intercept[IllegalArgumentException] {
      PostingLog.stats(spark, dir).collect()
    }
    assert(ex.getMessage.contains("empty posting store"))
  }

  test("dedup batch regime lands the retention axis; axis mixing fails loudly at the landing") {
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text").limit(300)
      .withColumn("crawl_date",
        date_add(lit("2026-01-01").cast("date"), pmod($"doc_id", lit(2L)).cast("int")))
      .localCheckpoint(eager = true)
    val dir = Files.createTempDirectory("dedup_batchchunk_").toString + "/st"
    // batch-regime landing WITH the axis, incremental landing beside it —
    // the regimes interleave on one chunked layout
    graft.llm.DedupLog.appendEpochBatch(docs.filter(pmod($"doc_id", lit(2L)) === 0L), dir, 0L)
    graft.llm.DedupLog.appendEpoch(docs.filter(pmod($"doc_id", lit(2L)) === 1L), dir, 1L)
    graft.llm.DedupLog.compact(spark, dir)
    // expiry works — the batch-regime epoch carried its dates
    graft.llm.DedupLog.expireBefore(spark, dir, "2026-01-02")
    val truthDir = Files.createTempDirectory("dedup_truth_").toString + "/st"
    graft.llm.DedupLog.appendEpoch(
      docs.filter($"crawl_date" >= lit("2026-01-02").cast("date"))
        .select($"doc_id", $"text"), truthDir, 0L)
    assert(graft.llm.DedupLog.labelsView(spark, dir).as[(Long, Long)].collect().toSet ===
      graft.llm.DedupLog.labelsView(spark, truthDir).as[(Long, Long)].collect().toSet,
      "post-expiry labels must equal the batch dedup of the retained corpus")
    assert(!StoreCheck.checkDedupLog(spark, dir).exists(_.severity == "error"))

    // a FLAT batch-regime landing into the chunked store: loud, at landing
    val exFlat = intercept[IllegalArgumentException] {
      graft.llm.DedupLog.appendEpochBatch(docs.select($"doc_id", $"text"), dir, 7L)
    }
    assert(exFlat.getMessage.contains("one store keeps one layout"))
    // and a CHUNKED landing into a flat store: equally loud
    val flatDir = Files.createTempDirectory("dedup_flat_").toString + "/st"
    graft.llm.DedupLog.appendEpoch(docs.select($"doc_id", $"text").limit(50), flatDir, 0L)
    val exChunk = intercept[IllegalArgumentException] {
      graft.llm.DedupLog.appendEpoch(docs.limit(50), flatDir, 1L)
    }
    assert(exChunk.getMessage.contains("one store keeps one layout"))
  }

  test("an epoch without its writer's _SUCCESS marker is invisible until committed") {
    val dir = Files.createTempDirectory("cube_vis_").toString + "/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/batch_id=0")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$dir/batch_id=1")
    assert(CubeLog.view(spark, dir).liveBatches.map(_._1).toSet === Set(0L, 1L))

    // simulate the committer mid-promotion: task files present at the
    // epoch root, job _SUCCESS not yet written
    val staged = new File(s"$dir/batch_id=1")
    val part = staged.listFiles().find(_.getName.endsWith(".parquet")).get
    val pending = new File(s"$dir/batch_id=9")
    assert(pending.mkdirs())
    java.nio.file.Files.copy(part.toPath,
      new File(pending, part.getName).toPath)
    assert(CubeLog.view(spark, dir).liveBatches.map(_._1).toSet === Set(0L, 1L),
      "a half-committed epoch must not serve")
    // the marker lands → the epoch is visible
    assert(new File(pending, "_SUCCESS").createNewFile())
    assert(CubeLog.view(spark, dir).liveBatches.map(_._1).toSet === Set(0L, 1L, 9L))

    // multi-artifact epochs (the DedupLog shape) commit via a subdir marker
    val sub = new File(s"$dir/batch_id=12/sigs")
    assert(sub.mkdirs())
    java.nio.file.Files.copy(part.toPath, new File(sub, part.getName).toPath)
    assert(!CubeLog.view(spark, dir).liveBatches.map(_._1).contains(12L))
    assert(new File(sub, "_SUCCESS").createNewFile())
    assert(CubeLog.view(spark, dir).liveBatches.map(_._1).contains(12L))
  }

  test("purgeGraceRetained never deletes a fold newer than the committed generation") {
    val dir = Files.createTempDirectory("cube_purge_").toString + "/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/batch_id=0")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$dir/batch_id=1")
    CubeLog.compact(spark, dir)(df => df) // commits generation 1
    // an IN-FLIGHT fold beside the purge (side-thread compaction racing an
    // erase): folded_gen=2 exists, its marker does not — yet
    Seq((3L, "c")).toDF("k", "v").write.parquet(s"$dir/batch_id=2")
    Seq((9L, "z")).toDF("k", "v").write.parquet(s"$dir/folded_gen=2")
    CubeLog.purgeGraceRetained(spark, dir)
    assert(new File(s"$dir/folded_gen=2").exists(),
      "a fold newer than the committed generation is in-flight state, not grace")
    assert(new File(s"$dir/folded_gen=1").exists())
    assert(!new File(s"$dir/batch_id=0").exists() && !new File(s"$dir/batch_id=1").exists(),
      "grace-retained batch dirs at or under the watermark are purged")
    assert(new File(s"$dir/batch_id=2").exists(), "live epochs above the watermark stay")
  }

  test("an OLDER epoch with data but no _SUCCESS fails the view loudly — only the latest may be in flight") {
    val dir = Files.createTempDirectory("cube_vis_old_").toString + "/store"
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/batch_id=0")
    // epoch 1: data promoted, marker never landed (crash, or a deployment
    // with marksuccessfuljobs=false)
    val part = new File(s"$dir/batch_id=0").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val stale = new File(s"$dir/batch_id=1")
    assert(stale.mkdirs())
    java.nio.file.Files.copy(part.toPath, new File(stale, part.getName).toPath)
    // while 1 is the LATEST epoch it is merely invisible (may be mid-landing)
    assert(CubeLog.view(spark, dir).liveBatches.map(_._1) === Seq(0L))
    // a newer committed epoch lands → 1 can no longer be in flight
    Seq((3L, "c")).toDF("k", "v").write.parquet(s"$dir/batch_id=2")
    val ex = intercept[IllegalArgumentException] { CubeLog.view(spark, dir) }
    assert(ex.getMessage.contains("no _SUCCESS") &&
      ex.getMessage.contains("batch_id=1"))
    // restoring the marker heals the store
    assert(new File(stale, "_SUCCESS").createNewFile())
    assert(CubeLog.view(spark, dir).liveBatches.map(_._1) === Seq(0L, 1L, 2L))
  }

  test("compactFrom clears a crash-orphaned output generation before an append-mode writer runs") {
    val dir = Files.createTempDirectory("cube_orphan_").toString + "/store"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/batch_id=0")
    // crash sim: a previous fold attempt wrote PARTIAL output, died before
    // the marker; purgeGraceRetained deliberately keeps newer-gen orphans
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/folded_gen=1")
    CubeLog.compactFrom(spark, dir) { (v, out) =>
      spark.read.parquet((v.foldedDir.toSeq ++ v.liveBatches.map(_._2)): _*)
        .write.mode("append").parquet(out) // the VecStore.build append shape
    }
    val folded = spark.read.parquet(s"$dir/folded_gen=1")
    assert(folded.count() === 2L,
      "the retry must not append the corpus on top of the partial files")
    assert(folded.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("retention refuses to empty a never-folded chunked store (live epochs are its serving state)") {
    val dated = VecStoreLog.withCrawlDates(
      graft.ops.Tables.embeddingsParallel(spark, sf0001)
        .select($"vec_id", $"label", $"embedding").limit(300))
    val dir = Files.createTempDirectory("vec_nofold_").toString + "/st"
    VecStoreLog.appendBatch(dated, dir, 0L)
    val ex = intercept[IllegalArgumentException] {
      VecStoreLog.expireBefore(spark, dir, "2027-01-01")
    }
    assert(ex.getMessage.contains("would empty"))
    // a cutoff with live survivors proceeds normally
    assert(VecStoreLog.expireBefore(spark, dir, "2026-01-02") > 0L)
    assert(spark.read.parquet(s"$dir/batch_id=0")
      .filter($"chunk_date" < lit("2026-01-02").cast("date")).count() === 0L)

    val pq = Files.createTempDirectory("ivfpq_nofold_").toString + "/st"
    IvfPqLog.appendBatch(dated, pq, 0L)
    val exPq = intercept[IllegalArgumentException] {
      IvfPqLog.expireBefore(spark, pq, "2027-01-01")
    }
    assert(exPq.getMessage.contains("would empty"))
  }

  test("a flat bronze fails expiry like every store without the retention axis; an absent one expires nothing") {
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").limit(20)
    val dir = Files.createTempDirectory("bronze_flat_").toString + "/st"
    assert(DocStore.expireBefore(spark, dir, "2026-01-02") === 0L)
    val landed = DocStore.appendDeduped(spark, docs, dir, 0L)
    assert(landed > 0L)
    val ex = intercept[IllegalArgumentException] {
      DocStore.expireBefore(spark, dir, "2026-01-02")
    }
    assert(ex.getMessage.contains("has no retention axis"))
    assert(spark.read.parquet(s"$dir/docs").count() === landed, "nothing dropped")
  }

  test("an explicit first-landing bucket count must be a positive power of two") {
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").limit(20)
    val dir = Files.createTempDirectory("posting_pow2_").toString + "/st"
    val ex = intercept[IllegalArgumentException] {
      PostingLog.appendBatch(docs, dir, 0L, nBuckets = 1000L)
    }
    assert(ex.getMessage.contains("power of two"))
    // a power of two lands, and becomes the store's permanent count
    PostingLog.appendBatch(docs, dir, 0L, nBuckets = 8L)
    assert(PostingLog.storedNBuckets(spark, dir) === Some(8L))
  }
}
