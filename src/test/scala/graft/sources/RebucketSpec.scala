package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** The posting bucket count as a STORE PROPERTY (r14 — closing the r13
  * "bucketsFor is advice the code cannot act on" wart): stores land at a
  * caller-chosen count (the [[PostingLog.bucketsFor]] derivation at
  * scale), probes prune each root at its OWN recorded count, and
  * [[PostingLog.rebucket]] resizes a live store in one forced fold with
  * answers hash-identical throughout — including the mid-transition state
  * where roots carry two different counts. */
class RebucketSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("data", "join", "scan")

  private def docs = graft.ops.Tables.documentsParallel(spark, sf0001)
    .select($"doc_id", $"text")

  private def answers(dir: String) = (
    PostingLog.booleanAnd(spark, dir, terms).as[(Long, Long)].collect().toSet,
    PostingLog.bm25TopK(spark, dir, terms).as[(Long, Long)].collect().toSeq,
    PostingLog.stats(spark, dir).as[(Long, Long)].head())

  test("a store lands at a derived count ≠ the default, probes correctly, and rebuckets live with identical answers") {
    val d = docs.localCheckpoint(eager = true)
    // the reference answers from a default-count store over the same corpus
    val ref = Files.createTempDirectory("rebucket_ref_").toString + "/idx"
    PostingLog.appendBatch(d, ref, 0L)
    val expected = answers(ref)

    // land at an EXPLICIT derived count (the bucketsFor convention): the
    // store self-describes, probes prune at 64 buckets
    val dir = Files.createTempDirectory("rebucket_").toString + "/idx"
    PostingLog.appendBatch(d.filter(pmod($"doc_id", lit(2L)) === 0L), dir, 0L,
      nBuckets = 64L)
    // later landings INHERIT the stored count — no parameter needed
    PostingLog.appendBatch(d.filter(pmod($"doc_id", lit(2L)) === 1L), dir, 1L)
    assert(PostingLog.storedNBuckets(spark, dir) === Some(64L))
    assert(answers(dir) === expected, "a 64-bucket store answers like the default store")
    val gen0 = new File(dir).listFiles().filter(_.getName.startsWith("batch_id="))
    assert(gen0.forall(g => new File(g, "_nb").exists()),
      "every root self-describes its layout")

    // an explicit count CONFLICTING with the store fails loudly at landing
    val ex = intercept[IllegalArgumentException] {
      PostingLog.appendBatch(d.limit(10), dir, 9L, nBuckets = 16L)
    }
    assert(ex.getMessage.contains("rebucket"))

    // MID-TRANSITION: fold the 64-bucket store, then land an epoch after
    // flipping the landing count via rebucket DOWN to 16 — the fold
    // unifies, and a fresh epoch at the new count coexists with nothing
    // stale because every root self-describes
    PostingLog.compact(spark, dir)
    assert(PostingLog.rebucket(spark, dir, 16L) >= 1L)
    assert(PostingLog.storedNBuckets(spark, dir) === Some(16L))
    assert(answers(dir) === expected, "answers are hash-identical after the resize")
    val gen = CubeLog.view(spark, dir).foldedDir.get
    assert(PostingLog.rootNBuckets(spark, gen) === Some(16L))

    // resize UP (the growth direction bucketsFor sizes for) on a store
    // with a live epoch beside the fold: one forced fold, same answers
    PostingLog.appendBatch(
      d.limit(200).select(($"doc_id" + 500000L).as("doc_id"), $"text"), dir, 7L)
    val withLive = answers(dir)
    assert(PostingLog.rebucket(spark, dir, 32L) >= 1L)
    assert(answers(dir) === withLive)
    // physical: the generation's tb= dirs now span the 32-bucket key space
    // (> 16 distinct buckets proves the re-derivation actually ran)
    val tbDirs = new File(CubeLog.view(spark, dir).foldedDir.get.stripPrefix("file:"))
      .listFiles().count(_.getName.startsWith("tb="))
    assert(tbDirs > 16, s"expected >16 populated buckets at count 32, got $tbDirs")
    assert(!StoreCheck.checkPostingLog(spark, dir).exists(_.severity == "error"))

    // erase still composes after a resize (bucket discovery reads tb
    // values, never the count)
    val req = d.filter($"text".isNotNull).limit(5)
      .select($"doc_id").as[Long].collect().toSeq
    assert(PostingLog.eraseDocs(spark, dir, req) > 0L)
    assert(PostingLog.booleanAnd(spark, dir, terms).as[(Long, Long)].collect().toSet
      === withLive._1.filterNot(x => req.contains(x._1)))
  }

  test("rebucketDeferred: the streaming-native resize — flip now, the next fold unifies, answers identical throughout") {
    val d = docs.localCheckpoint(eager = true)
    val ref = Files.createTempDirectory("rebucket_def_ref_").toString + "/idx"
    PostingLog.appendBatch(d, ref, 0L)
    val expected = answers(ref)

    val dir = Files.createTempDirectory("rebucket_def_").toString + "/idx"
    PostingLog.appendBatch(d.filter(pmod($"doc_id", lit(2L)) === 0L), dir, 0L)
    PostingLog.appendBatch(d.filter(pmod($"doc_id", lit(2L)) === 1L), dir, 1L)
    // flip only: the store's landing count changes, NOTHING folds — the
    // variant safe to run beside a live auto-cadence stream (a forced
    // fold would race the in-loop compactor)
    assert(PostingLog.rebucketDeferred(spark, dir, 64L))
    assert(PostingLog.storedNBuckets(spark, dir) === Some(64L))
    assert(!new File(dir).listFiles().exists(_.getName.startsWith("folded_gen=")),
      "the deferred flip must not fold")
    // mid-transition: old-count roots answer at their OWN recorded count
    assert(answers(dir) === expected, "mixed-count store answers exactly")
    // a new landing buckets at the NEW count; probes still exact
    PostingLog.appendBatch(
      d.limit(50).select(($"doc_id" + 1000000L).as("doc_id"), $"text"), dir, 2L)
    // "any compaction finishes the unification" — the next (cadence) fold
    PostingLog.compact(spark, dir, force = true)
    val gen = CubeLog.view(spark, dir).foldedDir.get
    assert(PostingLog.rootNBuckets(spark, gen) === Some(64L),
      "the fold unified the store at the flipped count")
    // flip to the same count is a no-op (nothing pending)
    assert(!PostingLog.rebucketDeferred(spark, dir, 64L))
  }

  test("bucketsFor sizes the landing count and the chunked layout carries per-root counts too") {
    // the sizing rule composes with the landing parameter: a 'deployment'
    // derives its count and passes it through — pure arithmetic here
    val derived = PostingLog.bucketsFor(nDocs = 2000000000L, avgDl = 500L)
    assert(derived > PostingLog.NBuckets && (derived & (derived - 1)) == 0L)

    val dated = docs.limit(300)
      .withColumn("crawl_date", date_add(lit("2026-01-01").cast("date"),
        pmod($"doc_id", lit(2L)).cast("int")))
      .localCheckpoint(eager = true)
    val dir = Files.createTempDirectory("rebucket_chunked_").toString + "/idx"
    PostingLog.appendBatch(dated, dir, 0L, nBuckets = 32L)
    PostingLog.compact(spark, dir)
    assert(PostingLog.rootNBuckets(spark,
      CubeLog.view(spark, dir).foldedDir.get) === Some(32L))
    val before = PostingLog.booleanAnd(spark, dir, terms)
      .as[(Long, Long)].collect().toSet
    assert(PostingLog.rebucket(spark, dir, 16L) >= 1L)
    assert(PostingLog.booleanAnd(spark, dir, terms)
      .as[(Long, Long)].collect().toSet === before)
    // retention still drops by date after the resize
    assert(PostingLog.expireBefore(spark, dir, "2026-01-02") > 0L)
    assert(PostingLog.booleanAnd(spark, dir, terms).as[(Long, Long)].collect().toSet
      === before.filter(_._1 % 2 == 1))
  }
}
