package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

/** The maintained ANN index driven from the streaming gold loop
  * ([[VecStoreLog.landWireEpoch]], the gold loop's foreachBatch hook).
  * Contracts:
  *
  *  1. stream-built ≡ batch-built: any micro-batch slicing of the wire,
  *     WITH a mid-stream compaction interleaved between landings, folds
  *     to a store whose probes are row-identical to landing everything
  *     at once and compacting — retrain-over-epochs sees the identical
  *     corpus and Lloyd/assignment are deterministic order-independent
  *     aggregations, so intermediate generations can't leak into answers;
  *  2. exactly-once across the fold: replaying an already-folded epoch id
  *     after compaction is a watermark-guarded no-op (the cube contract
  *     on the vector surface);
  *  3. the derivation is a pure projection: only document-bearing meters
  *     (meter_id % stride = 0) land, vec_id is injective over
  *     (meter, second).
  */
class VecStreamSpec extends SparkSpec {
  import spark.implicits._

  /** 160 meters × 20 one-second readings → 10 document-bearing meters
    * (stride 16) × 20 = 200 vectors. */
  private def wireRows: Seq[(Int, Timestamp)] =
    for {
      m <- 0 until 160
      i <- 0 until 20
    } yield (m, Timestamp.valueOf(f"2024-03-01 00:00:$i%02d"))

  private def parsedDf(rows: Seq[(Int, Timestamp)]) =
    rows.toDF("meter_id", "reading_timestamp")

  test("stream-landed epochs with a mid-stream fold ≡ one batch landing; replay after fold no-ops") {
    val rows = wireRows
    val all = parsedDf(rows)

    val batchDir = Files.createTempDirectory("vec_stream_batch_").toString + "/vec"
    VecStoreLog.landWireEpoch(all, batchDir, 0L)
    VecStoreLog.compact(spark, batchDir)

    val streamDir = Files.createTempDirectory("vec_stream_live_").toString + "/vec"
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Timestamp)]
    val landed = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = mem.toDF().toDF("meter_id", "reading_timestamp").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        landed.addAndGet(VecStoreLog.landWireEpoch(b, streamDir, id))
        // the offline compactor interleaves with the landings: fold after
        // the second epoch, a fold beside live landings
        if (id == 1L) VecStoreLog.compact(spark, streamDir)
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("vec_stream_ckpt_").toString)
      .start()
    // three uneven micro-batches slicing the wire arbitrarily
    val (a, bc) = rows.splitAt(rows.size / 5)
    val (b, c) = bc.splitAt(bc.size / 2)
    Seq(a, b, c).foreach { slice => mem.addData(slice); q.processAllAvailable() }
    q.stop()

    // only document-bearing meters landed, once each
    val expectVecs = rows.count(_._1 % VecStoreLog.WireEmbeddingStride == 0)
    assert(landed.get() === expectVecs,
      s"stride filter must land exactly the document-bearing readings")

    // final fold on the stream store (epoch 2 is still live) so both
    // stores are all-folded over the identical corpus
    VecStoreLog.compact(spark, streamDir)

    val queries = VecStoreLog.readingEmbeddings(all)
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("embedding"))
    def probe(dir: String) =
      VecStoreLog.probeTopK(spark, dir, queries, VecStore.ProbeCells)
        .select("query_id", "vec_id", "label", "cell", "n_cands", "cosine", "rank")
        .collect().toSeq
        .sortBy(r => (r.getLong(0), r.getInt(6)))
    val fromStream = probe(streamDir)
    assert(fromStream === probe(batchDir),
      "any epoch slicing + intermediate folds must probe identically to the batch build")

    // replay epoch 1 after its fold: watermark-guarded no-op
    assert(VecStoreLog.landWireEpoch(parsedDf(b), streamDir, 1L) === 0L)
    assert(probe(streamDir) === fromStream, "replay must not change answers")
  }

  test("readingEmbeddings: injective vec_id, deterministic embedding, fixed dims") {
    val emb = VecStoreLog.readingEmbeddings(parsedDf(wireRows)).cache()
    try {
      assert(emb.count() === emb.select("vec_id").distinct().count(),
        "vec_id must be injective over (meter, second)")
      assert(emb.select(size(col("embedding"))).distinct().as[Int].collect()
        .toSeq === Seq(VecStoreLog.WireEmbeddingDims))
      // deterministic: deriving twice yields identical rows
      val twice = VecStoreLog.readingEmbeddings(parsedDf(wireRows))
      assert(emb.exceptAll(twice).isEmpty && twice.exceptAll(emb).isEmpty)
    } finally emb.unpersist()
  }
}
