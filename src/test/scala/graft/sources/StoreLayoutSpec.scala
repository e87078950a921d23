package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** Layout is a store property. Every maintained store has one landing:
  * a frame carrying `crawl_date` lands calendar-chunked, any other frame
  * lands flat, and the store remembers the choice in the directory names
  * it writes. Pins:
  *
  *  - the one layout helper ([[CubeLog.isChunkedRoot]]) reads the landed
  *    layout back from every root of all five stores — folded generation
  *    and live epoch, the IVF-PQ `codes/cell=` tree, both bronze trees —
  *    without submitting a Spark job;
  *  - a landing whose layout disagrees with the store's fails before it
  *    writes anything, in both directions, on the two stores that had no
  *    such guard (PostingLog, DocStore); DedupLog and VecStoreLog are
  *    pinned by RetentionEdgeSpec and VecChunkedRetentionSpec;
  *  - a chunked bronze still answers the crash-repair read
  *    ([[DocStore.landedSlice]]) with dated rows.
  */
class StoreLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def dated(df: DataFrame, id: String): DataFrame =
    df.withColumn("crawl_date",
      date_add(lit("2026-01-01").cast("date"), pmod(col(id), lit(3L)).cast("int")))

  private lazy val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
    .select($"doc_id", $"text").limit(150).localCheckpoint(eager = true)

  private lazy val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
    .select($"vec_id", $"label", $"embedding").localCheckpoint(eager = true)

  /** Every file under `dir` with its size and mtime — "nothing written"
    * means this map is unchanged. */
  private def filesUnder(dir: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[(String, (Long, Long))] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f.getPath -> (f.length(), f.lastModified()))
    walk(new File(dir)).toMap
  }

  private def refusedWithoutWriting(dir: String)(landing: => Any): Unit = {
    val before = filesUnder(dir)
    val ex = intercept[IllegalArgumentException](landing)
    assert(ex.getMessage.contains("one store keeps one layout"), ex.getMessage)
    assert(filesUnder(dir) === before, "a refused landing must write nothing")
  }

  test("every store's layout reads back from each root as landed, with no Spark job") {
    Seq(false, true).foreach { chunked =>
      val base = Files.createTempDirectory(s"layout_${if (chunked) "chunked" else "flat"}_").toString
      val Seq(bronze, posting, dedup, vec, ivfpq) =
        Seq("bronze", "posting", "dedup", "vec", "ivfpq").map(t => s"$base/$t")
      def slice(df: DataFrame, id: String, e: Long): DataFrame = {
        val s = df.filter(pmod(col(id), lit(3L)) === e)
        if (chunked) dated(s, id) else s
      }
      // each store: epochs 0 and 1 folded into a generation, epoch 2 live
      // (the bronze folds its hash index into the batch_id=-1 history)
      (0L to 1L).foreach { e =>
        DocStore.appendDeduped(spark, slice(docs, "doc_id", e), bronze, e)
        PostingLog.appendBatch(slice(docs, "doc_id", e), posting, e)
        graft.llm.DedupLog.appendEpoch(slice(docs, "doc_id", e), dedup, e)
        VecStoreLog.appendBatch(slice(emb, "vec_id", e), vec, e)
        IvfPqLog.appendBatch(slice(emb, "vec_id", e), ivfpq, e)
      }
      DocStore.compactIndex(spark, bronze)
      PostingLog.compact(spark, posting)
      graft.llm.DedupLog.compact(spark, dedup)
      VecStoreLog.compact(spark, vec, cellK = Some(VecStore.CellK))
      IvfPqLog.compact(spark, ivfpq, Some(IvfPqLog.CoarseK))
      DocStore.appendDeduped(spark, slice(docs, "doc_id", 2L), bronze, 2L)
      PostingLog.appendBatch(slice(docs, "doc_id", 2L), posting, 2L)
      graft.llm.DedupLog.appendEpoch(slice(docs, "doc_id", 2L), dedup, 2L)
      VecStoreLog.appendBatch(slice(emb, "vec_id", 2L), vec, 2L)
      IvfPqLog.appendBatch(slice(emb, "vec_id", 2L), ivfpq, 2L)

      def roots(dir: String, sub: String = ""): Seq[String] = {
        val v = CubeLog.view(spark, dir)
        assert(v.foldedDir.nonEmpty && v.liveBatches.size == 1, s"$dir: fold + one live epoch")
        (v.foldedDir.toSeq ++ v.liveBatches.map(_._2)).map(_ + sub)
      }
      val all = Seq(s"$bronze/docs", s"$bronze/hash_index") ++ roots(posting) ++
        roots(dedup, "/sigs") ++ roots(vec) ++ roots(ivfpq)
      val (layouts, jobs) = jobsOf(all.map(r => r -> CubeLog.isChunkedRoot(spark, r)))
      layouts.foreach { case (r, got) =>
        assert(got === chunked, s"$r was landed ${if (chunked) "chunked" else "flat"}")
      }
      assert(jobs === 0, "the layout helper reads directory names only")
    }
  }

  test("PostingLog refuses a landing whose layout disagrees with the store's, before writing") {
    val flat = Files.createTempDirectory("posting_flat_").toString + "/idx"
    PostingLog.appendBatch(docs.filter($"doc_id" % 2 === 0), flat, 0L)
    refusedWithoutWriting(flat) {
      PostingLog.appendBatch(dated(docs.filter($"doc_id" % 2 === 1), "doc_id"), flat, 1L)
    }
    val chunked = Files.createTempDirectory("posting_chunked_").toString + "/idx"
    PostingLog.appendBatch(dated(docs.filter($"doc_id" % 2 === 0), "doc_id"), chunked, 0L)
    PostingLog.compact(spark, chunked)
    refusedWithoutWriting(chunked) {
      PostingLog.appendBatch(docs.filter($"doc_id" % 2 === 1), chunked, 1L)
    }
  }

  test("DocStore refuses a landing whose layout disagrees with the bronze's, before writing") {
    val flat = Files.createTempDirectory("bronze_flat_").toString
    DocStore.appendDeduped(spark, docs.filter($"doc_id" % 2 === 0), flat, 0L)
    refusedWithoutWriting(flat) {
      DocStore.appendDeduped(spark, dated(docs, "doc_id"), flat, 1L)
    }
    // a flat landing into a chunked bronze used to miss its hash index
    // and land every history duplicate again as batch_id= directories
    val chunked = Files.createTempDirectory("bronze_chunked_").toString
    DocStore.appendDeduped(spark, dated(docs.filter($"doc_id" % 2 === 0), "doc_id"), chunked, 0L)
    refusedWithoutWriting(chunked) {
      DocStore.appendDeduped(spark, docs, chunked, 1L)
    }
  }

  test("a chunked bronze answers the crash-repair read with its dated rows") {
    val dir = Files.createTempDirectory("bronze_slice_").toString
    val landed = DocStore.appendDedupedLanded(spark, dated(docs, "doc_id"), dir, 4L)
      .get.select($"doc_id").as[Long].collect().toSet
    val slice = DocStore.landedSlice(spark, dir, 4L)
    assert(slice.nonEmpty, "a committed chunked batch must be found")
    assert(slice.get.columns.contains("crawl_date"), "derived re-landings land chunked")
    assert(slice.get.select($"doc_id").as[Long].collect().toSet === landed)
    assert(DocStore.landedSlice(spark, dir, 5L).isEmpty)
  }
}
