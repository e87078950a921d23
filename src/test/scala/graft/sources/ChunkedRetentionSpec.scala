package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.io.File

/** Calendar-chunked retention on the DERIVED text stores (r13): the
  * corpus bronze gained crawl-day chunks in r12, but an expired day's
  * postings and signatures lived on until RTBF'd. Both stores now carry
  * the retention axis: expiring a crawl day is a driver-side directory
  * drop on every root (fold, live epochs, grace copies) — zero posting
  * rows rewritten, the per-date stats rows decrement EXACTLY because
  * each date's stats live inside its dropped directory, and the dedup
  * label table is repaired for components that lost expired members. */
class ChunkedRetentionSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("data", "join", "scan")

  /** Corpus with a synthetic crawl calendar: three days by doc_id mod 3. */
  private def datedDocs = graft.ops.Tables.documentsParallel(spark, sf0001)
    .select($"doc_id", $"text")
    .withColumn("crawl_date",
      date_add(lit("2026-01-01").cast("date"), pmod($"doc_id", lit(3L)).cast("int")))

  private def dateDirsOnDisk(dir: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (!f.isDirectory) Nil
      else (if (f.getName.startsWith("chunk_date=")) Seq(f.getName) else Nil) ++
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    walk(new File(dir)).toSet
  }

  test("posting store: chunked landings answer like the flat store; expiry drops a day everywhere, stats decrement exactly; chunk-aware erase") {
    val docs = datedDocs.localCheckpoint(eager = true)
    val dir = java.nio.file.Files.createTempDirectory("posting_chunk_").toString + "/idx"
    (0L to 1L).foreach { e =>
      PostingLog.appendBatch(docs.filter(pmod($"doc_id", lit(2L)) === e), dir, e)
    }
    PostingLog.compact(spark, dir)
    // one more live epoch: re-landing nothing new is not the point here —
    // use a disjoint slice so the live epoch carries all three dates too
    PostingLog.appendBatch(
      docs.select(($"doc_id" + 100000L).as("doc_id"), $"text", $"crawl_date"), dir, 2L)

    def directTruth(surviving: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      surviving
        .select($"doc_id", explode(graft.llm.TextAnalysis.words($"text")).as("term"))
        .filter($"term".isin(terms: _*)).distinct()
        .groupBy($"doc_id").agg(count(lit(1)).as("n_terms"))
        .filter($"n_terms" === terms.size)
        .as[(Long, Long)].collect().toSet
    val allDocs = docs.unionByName(
      docs.select(($"doc_id" + 100000L).as("doc_id"), $"text", $"crawl_date"))

    // chunked probes ≡ the flat truth over the full corpus
    assert(PostingLog.booleanAnd(spark, dir, terms)
      .as[(Long, Long)].collect().toSet === directTruth(allDocs))
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() ===
      allDocs.select(size(graft.llm.TextAnalysis.words($"text")).cast("long").as("dl"))
        .agg(count(lit(1)), sum($"dl")).as[(Long, Long)].head())

    // expire the first crawl day: a directory drop on EVERY root
    assert(dateDirsOnDisk(dir).contains("chunk_date=2026-01-01"))
    val dropped = PostingLog.expireBefore(spark, dir, "2026-01-02")
    assert(dropped > 0L)
    assert(!dateDirsOnDisk(dir).contains("chunk_date=2026-01-01"),
      "the expired day must leave every root on disk, grace copies included")
    assert(PostingLog.expireBefore(spark, dir, "2026-01-02") === 0L, "idempotent")

    // stats decremented EXACTLY (each date's stats rode in its chunk) and
    // the probes answer the survivor truth
    val survivors = allDocs.filter($"crawl_date" >= lit("2026-01-02").cast("date"))
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() ===
      survivors.select(size(graft.llm.TextAnalysis.words($"text")).cast("long").as("dl"))
        .agg(count(lit(1)), sum($"dl")).as[(Long, Long)].head(),
      "expiry must decrement the BM25 globals exactly")
    assert(PostingLog.booleanAnd(spark, dir, terms)
      .as[(Long, Long)].collect().toSet === directTruth(survivors))
    assert(!StoreCheck.checkPostingLog(spark, dir).exists(_.severity == "error"))

    // RTBF on the chunked layout: date-sliced rewrite, untouched dates
    // byte-identical
    val gen = CubeLog.view(spark, dir).foldedDir.get.stripPrefix("file:")
    val untouched = s"$gen/chunk_date=2026-01-03"
    def snap(p: String): Map[String, Long] = {
      def walk(f: File): Seq[(String, Long)] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f.getPath -> f.lastModified())
      walk(new File(p)).toMap
    }
    val before = snap(untouched)
    // erased ids from day 2 ONLY — day 3's slice must stay byte-identical
    val req = survivors.filter($"crawl_date" === lit("2026-01-02").cast("date"))
      .select($"doc_id").as[Long].collect().sorted.take(5).toSeq
    val removed = PostingLog.eraseDocs(spark, dir, req)
    assert(removed > 0L)
    assert(PostingLog.booleanAnd(spark, dir, terms).as[(Long, Long)].collect().toSet ===
      directTruth(survivors.filter(!$"doc_id".isin(req: _*))))
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() ===
      survivors.filter(!$"doc_id".isin(req: _*))
        .select(size(graft.llm.TextAnalysis.words($"text")).cast("long").as("dl"))
        .agg(count(lit(1)), sum($"dl")).as[(Long, Long)].head())
    assert(snap(untouched) === before,
      "an unaffected date slice must stay byte-identical through the erase")
    assert(PostingLog.eraseDocs(spark, dir, req) === 0L, "replay no-ops")
    assert(!StoreCheck.checkPostingLog(spark, dir).exists(_.severity == "error"))
  }

  test("expiry against a store without the retention axis fails loudly on both stores") {
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text")
    val pDir = java.nio.file.Files.createTempDirectory("flat_post_").toString + "/idx"
    PostingLog.appendBatch(docs.limit(50), pDir, 0L)
    val exP = intercept[IllegalArgumentException] {
      PostingLog.expireBefore(spark, pDir, "2026-01-02")
    }
    assert(exP.getMessage.contains("retention axis"))
    val dDir = java.nio.file.Files.createTempDirectory("flat_dedup_").toString + "/st"
    graft.llm.DedupLog.appendEpoch(docs.limit(50), dDir, 0L)
    val exD = intercept[IllegalArgumentException] {
      graft.llm.DedupLog.expireBefore(spark, dDir, "2026-01-02")
    }
    assert(exD.getMessage.contains("retention axis"))
  }

  test("dedup store: chunked landings label like batch; expiry drops a day and repairs labels; erase still works") {
    val docs = datedDocs.localCheckpoint(eager = true)
    val dir = java.nio.file.Files.createTempDirectory("dedup_chunk_").toString + "/st"
    (0L to 1L).foreach { e =>
      graft.llm.DedupLog.appendEpoch(
        docs.filter(pmod($"doc_id", lit(2L)) === e), dir, e)
    }
    graft.llm.DedupLog.compact(spark, dir)
    graft.llm.DedupLog.appendEpoch(
      docs.select(($"doc_id" + 100000L).as("doc_id"), $"text", $"crawl_date"), dir, 2L)

    // batch truth via a fresh one-epoch store (a single landing's pair
    // discovery IS the batch pair set — DedupLogSpec pins that identity)
    def batchLabels(c: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val tmp = java.nio.file.Files.createTempDirectory("dedup_truth_").toString + "/st"
      graft.llm.DedupLog.appendEpoch(c.select($"doc_id", $"text"), tmp, 0L)
      graft.llm.DedupLog.labelsView(spark, tmp).as[(Long, Long)].collect().toSet
    }
    val allDocs = docs.unionByName(
      docs.select(($"doc_id" + 100000L).as("doc_id"), $"text", $"crawl_date"))
    assert(graft.llm.DedupLog.labelsView(spark, dir).as[(Long, Long)].collect().toSet
      === batchLabels(allDocs))

    // expire day 1: sigs drop driver-side, labels repair to the survivor
    // batch answer (splits, keeper re-election, pairless drop-out)
    val dropped = graft.llm.DedupLog.expireBefore(spark, dir, "2026-01-02")
    assert(dropped > 0L)
    assert(!dateDirsOnDisk(dir).contains("chunk_date=2026-01-01"))
    val survivors = allDocs.filter($"crawl_date" >= lit("2026-01-02").cast("date"))
      .localCheckpoint(eager = true)
    assert(graft.llm.DedupLog.labelsView(spark, dir).as[(Long, Long)].collect().toSet
      === batchLabels(survivors),
      "post-expiry labels must equal the batch dedup of the retained corpus")
    assert(graft.llm.DedupLog.expireBefore(spark, dir, "2026-01-02") === 0L)
    assert(!StoreCheck.checkDedupLog(spark, dir).exists(_.severity == "error"))

    // RTBF still composes on the chunked store
    val req = survivors.select($"doc_id").as[Long].collect().take(5).toSeq
    graft.llm.DedupLog.eraseDocs(spark, dir, req)
    assert(graft.llm.DedupLog.labelsView(spark, dir).as[(Long, Long)].collect().toSet
      === batchLabels(survivors.filter(!$"doc_id".isin(req: _*))))
    assert(!StoreCheck.checkDedupLog(spark, dir).exists(_.severity == "error"))
  }
}
