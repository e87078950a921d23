package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The calendar-chunked corpus bronze ([[DocStore.appendDeduped]] of docs
  * carrying `crawl_date`): the MeterBronze retention discipline on the
  * text corpus — expiring a crawl day is a driver-side directory delete
  * on BOTH trees, dedup is bounded-horizon by construction (expired hashes
  * release their content for re-landing), and per-date index compaction
  * keeps the retention key. */
class DocStoreChunkedSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "crawl_date")
      .withColumn("crawl_date", col("crawl_date").cast("date"))

  test("chunked landing: exactly-once across batches and replays; composite layout on disk") {
    val dir = java.nio.file.Files.createTempDirectory("docstore_chunked").toString
    val b1 = docs((1L, "alpha", "2026-01-01"), (2L, "beta", "2026-01-01"))
    assert(DocStore.appendDeduped(spark, b1, dir, batchId = 1L) === 2L)
    // replay: dynamic overwrite of its own composite partitions, no dupes
    assert(DocStore.appendDeduped(spark, b1, dir, batchId = 1L) === 0L)
    // next day: new content lands, already-seen content does not
    val b2 = docs((3L, "alpha", "2026-01-02"), (4L, "gamma", "2026-01-02"))
    assert(DocStore.appendDeduped(spark, b2, dir, batchId = 2L) === 1L)
    assert(spark.read.parquet(s"$dir/docs").count() === 3L)
    val dateDirs = new java.io.File(s"$dir/docs").listFiles()
      .filter(_.getName.startsWith("chunk_date=")).map(_.getName).sorted
    assert(dateDirs === Array("chunk_date=2026-01-01", "chunk_date=2026-01-02"))
    assert(new java.io.File(s"$dir/docs/chunk_date=2026-01-01/batch_id=1").isDirectory)
  }

  test("expireBefore: driver-side chunk drops on both trees; expired content re-lands") {
    val dir = java.nio.file.Files.createTempDirectory("docstore_expire").toString
    DocStore.appendDeduped(spark,
      docs((1L, "old-news", "2026-01-01"), (2L, "evergreen", "2026-01-01")), dir, 1L)
    DocStore.appendDeduped(spark,
      docs((3L, "fresh", "2026-02-01")), dir, 2L)
    // both trees drop exactly the pre-cutoff chunk
    assert(DocStore.expireBefore(spark, dir, "2026-02-01") === 2L)
    assert(!new java.io.File(s"$dir/docs/chunk_date=2026-01-01").exists)
    assert(!new java.io.File(s"$dir/hash_index/chunk_date=2026-01-01").exists)
    assert(new java.io.File(s"$dir/docs/chunk_date=2026-02-01").isDirectory)
    assert(spark.read.parquet(s"$dir/docs").count() === 1L)
    // idempotent
    assert(DocStore.expireBefore(spark, dir, "2026-02-01") === 0L)
    // bounded-horizon dedup: the expired hash released its content —
    // a re-crawl of "old-news" re-lands; still-live "fresh" does not
    assert(DocStore.appendDeduped(spark,
      docs((9L, "old-news", "2026-02-02"), (10L, "fresh", "2026-02-02")),
      dir, 3L) === 1L)
    assert(spark.read.parquet(s"$dir/docs")
      .filter(col("doc_id") === 9L).count() === 1L)
  }

  test("RTBF on the chunked bronze keeps the composite layout: affected (date, batch) rewrites only, suppression released, expiry still works") {
    val dir = java.nio.file.Files.createTempDirectory("docstore_cerase").toString
    DocStore.appendDeduped(spark,
      docs((1L, "target", "2026-01-01"), (2L, "bystander", "2026-01-01")), dir, 1L)
    DocStore.appendDeduped(spark,
      docs((3L, "other-day", "2026-01-02")), dir, 2L)

    def snap(p: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f.getPath -> f.lastModified())
      walk(new java.io.File(p)).toMap
    }
    val untouched = s"$dir/docs/chunk_date=2026-01-02"
    val before = snap(untouched)

    // erase doc 1: only its (2026-01-01, batch 1) composite rewrites, the
    // other day stays byte-identical, and the tree stays CHUNKED (the
    // pre-r14 flat-partitioned rewrite wrote a conflicting batch_id=
    // layout beside the chunk_date= dirs)
    assert(DocStore.eraseDocs(spark, dir, Seq(1L)) === 1L)
    val topLevel = new java.io.File(s"$dir/docs").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(topLevel.forall(_.startsWith("chunk_date=")),
      s"the rewrite must keep the composite layout; found ${topLevel.mkString(",")}")
    assert(snap(untouched) === before, "the unaffected day stays byte-identical")
    val left = spark.read.parquet(s"$dir/docs")
    assert(left.count() === 2L && left.filter(col("doc_id") === 1L).count() === 0L)
    assert(spark.read.parquet(s"$dir/hash_index").count() === 2L,
      "the erased content's hash must leave the suppression index")
    assert(DocStore.eraseDocs(spark, dir, Seq(1L)) === 0L, "replay no-ops")

    // suppression released: the erased content re-lands as a new doc
    assert(DocStore.appendDeduped(spark,
      docs((9L, "target", "2026-01-03")), dir, 3L) === 1L)
    // a whole batch erased: its composite dir is deleted, not left empty
    assert(DocStore.eraseDocs(spark, dir, Seq(9L)) === 1L)
    assert(!new java.io.File(s"$dir/docs/chunk_date=2026-01-03").exists,
      "a date left batch-less by the erase is deleted on both trees")
    assert(!new java.io.File(s"$dir/hash_index/chunk_date=2026-01-03").exists)
    // retention still composes after the erase
    assert(DocStore.expireBefore(spark, dir, "2026-01-02") === 2L)
    assert(spark.read.parquet(s"$dir/docs").count() === 1L)
  }

  test("chunked compactIndex folds per date and stays exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("docstore_cchunk").toString
    (1 to 3).foreach { i =>
      DocStore.appendDeduped(spark,
        docs((i.toLong, s"day1-doc$i", "2026-03-01")), dir, i.toLong)
    }
    DocStore.appendDeduped(spark,
      docs((9L, "day2-doc", "2026-03-02")), dir, 9L)
    assert(DocStore.compactIndex(spark, dir) === 4L)
    // the date axis survives; per-batch fragmentation is gone
    val d1 = new java.io.File(s"$dir/hash_index/chunk_date=2026-03-01")
    assert(d1.listFiles().filter(_.getName.startsWith("batch_id="))
      .map(_.getName).toSeq === Seq("batch_id=-1"))
    // replays of pre-compaction batches still land nothing
    assert(DocStore.appendDeduped(spark,
      docs((1L, "day1-doc1", "2026-03-01")), dir, 1L) === 0L)
    // retention after compaction: dropping day 1 releases its hashes
    assert(DocStore.expireBefore(spark, dir, "2026-03-02") === 2L)
    assert(DocStore.appendDeduped(spark,
      docs((21L, "day1-doc1", "2026-03-05")), dir, 21L) === 1L)
  }
}
