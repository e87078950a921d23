package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** Calendar-chunked retention on BOTH vector stores (r14 — the r13
  * verdict's top item: expiring a crawl day dropped its text, postings,
  * and signatures while its embeddings and PQ codes stayed probe-servable
  * in both ANN indexes). Physical pins beside the hash-green oracles
  * (`vecstore_expire_probe`, `ivfpq_expire_probe`):
  *
  *  - expiry = directory drops on every root (generation cell trees, live
  *    epochs, grace copies) — no date dir before the cutoff survives
  *    anywhere on disk, and no stored row of an expired id survives a
  *    raw read of any root;
  *  - chunked probes answer exactly like the flat twin built from the
  *    same corpus (the axis is layout, never semantics);
  *  - chunk-aware RTBF still bounds its rewrite: untouched (cell, date)
  *    composites stay byte-identical, emptied composites are deleted;
  *  - axis mixing fails loudly at the landing; expiring a store without
  *    the axis fails loudly; a cutoff that would empty the committed
  *    generation is refused.
  */
class VecChunkedRetentionSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
    .select($"vec_id", $"label", $"embedding")

  private def dated = VecStoreLog.withCrawlDates(emb)

  private def dateDirsOnDisk(dir: String): Set[String] = {
    def walk(f: File): Seq[String] =
      if (!f.isDirectory) Nil
      else (if (f.getName.startsWith("chunk_date=")) Seq(f.getName) else Nil) ++
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
    walk(new File(dir)).toSet
  }

  private def rootsOnDisk(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("batch_id=") || f.getName.startsWith("folded_gen=")))
      .map(_.getPath)

  test("VecStoreLog: chunked ≡ flat probes; expiry drops a day everywhere; chunk-aware erase stays bounded") {
    val queries = emb.filter($"vec_id" % 50 === 0).select($"vec_id", $"embedding")
    def probeSet(dir: String) =
      VecStoreLog.probeTopK(spark, dir, queries, VecStore.ProbeCells)
        .select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet

    // same corpus, same epoch slicing, one flat and one chunked store
    val flat = Files.createTempDirectory("vec_flat_").toString + "/st"
    val chunk = Files.createTempDirectory("vec_chunk_").toString + "/st"
    Seq(0L, 1L).foreach { e =>
      VecStoreLog.appendBatch(dated.filter(pmod($"vec_id", lit(2L)) === e)
        .drop("crawl_date"), flat, e)
      VecStoreLog.appendBatch(
        dated.filter(pmod($"vec_id", lit(2L)) === e), chunk, e)
    }
    VecStoreLog.compact(spark, flat, cellK = Some(VecStore.CellK))
    VecStoreLog.compact(spark, chunk, cellK = Some(VecStore.CellK))
    assert(probeSet(chunk) === probeSet(flat),
      "the retention axis is layout, not semantics")

    // live leg: land one more epoch on the chunked store only
    VecStoreLog.appendBatch(
      dated.select(($"vec_id" + 1000000L).as("vec_id"), $"label", $"embedding",
        $"crawl_date"), chunk, 2L)

    // expiry: day-1 dirs vanish from the generation's cell tree AND the
    // live epoch AND any grace dirs; idempotent; axis-less stores refuse
    assert(dateDirsOnDisk(chunk).contains("chunk_date=2026-01-01"))
    assert(VecStoreLog.expireBefore(spark, chunk, "2026-01-02") > 0L)
    assert(!dateDirsOnDisk(chunk).contains("chunk_date=2026-01-01"),
      "no pre-cutoff date dir may survive anywhere on disk")
    assert(VecStoreLog.expireBefore(spark, chunk, "2026-01-02") === 0L, "idempotent")
    rootsOnDisk(chunk).foreach { r =>
      assert(spark.read.parquet(r)
        .filter($"chunk_date" < lit("2026-01-02").cast("date")).count() === 0L,
        s"expired rows must not survive a raw read of $r")
    }
    val exFlat = intercept[IllegalArgumentException] {
      VecStoreLog.expireBefore(spark, flat, "2026-01-02")
    }
    assert(exFlat.getMessage.contains("retention axis"))
    // a cutoff emptying the committed generation is refused
    val exAll = intercept[IllegalArgumentException] {
      VecStoreLog.expireBefore(spark, chunk, "2027-01-01")
    }
    assert(exAll.getMessage.contains("would empty"))

    // axis mixing fails loudly at the landing, both directions
    val exMix = intercept[IllegalArgumentException] {
      VecStoreLog.appendBatch(emb.limit(10), chunk, 9L)
    }
    assert(exMix.getMessage.contains("one store keeps one layout"))
    val exMix2 = intercept[IllegalArgumentException] {
      VecStoreLog.appendBatch(dated.limit(10), flat, 9L)
    }
    assert(exMix2.getMessage.contains("one store keeps one layout"))

    // chunk-aware RTBF: erase a few surviving ids from day 2 only — day 3
    // composites stay byte-identical, no erased row survives on disk
    val gen = CubeLog.view(spark, chunk).foldedDir.get.stripPrefix("file:")
    def snap(p: String): Map[String, Long] = {
      def walk(f: File): Seq[(String, Long)] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f.getPath -> f.lastModified())
      walk(new File(p)).toMap
    }
    val day3 = Option(new File(gen).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("cell="))
      .map(f => new File(f, "chunk_date=2026-01-03")).filter(_.exists())
    assert(day3.nonEmpty)
    val before = day3.map(d => d.getPath -> snap(d.getPath)).toMap
    val req = dated.filter($"crawl_date" === lit("2026-01-02").cast("date"))
      .select($"vec_id").as[Long].collect().sorted.take(5).toSeq
    assert(VecStoreLog.eraseByIds(spark, chunk, req) > 0L)
    day3.foreach(d => assert(snap(d.getPath) === before(d.getPath),
      s"unaffected composite must stay byte-identical: $d"))
    rootsOnDisk(chunk).foreach { r =>
      assert(spark.read.parquet(r).filter($"vec_id".isin(req: _*)).count() === 0L,
        s"erased ids must not survive a raw read of $r")
    }
    assert(VecStoreLog.eraseByIds(spark, chunk, req) === 0L, "replay no-ops")
    assert(!StoreCheck.checkVecStoreLog(spark, chunk).exists(_.severity == "error"))
  }

  test("chunked auto-cadence landings ≡ one chunked batch fold on both stores; the wire side channel carries its reading's date") {
    // auto-cadence drive: dated epochs land through appendBatchAuto,
    // folds fire at each store's own derived trigger — end state must
    // answer exactly like a single chunked batch build of the same corpus
    val queries = emb.filter($"vec_id" % 50 === 0).select($"vec_id", $"embedding")
    val auto = Files.createTempDirectory("vec_chunk_auto_").toString + "/st"
    val batch = Files.createTempDirectory("vec_chunk_batch_").toString + "/st"
    (0L to 3L).foreach { e =>
      VecStoreLog.appendBatchAuto(
        dated.filter(pmod($"vec_id", lit(4L)) === e), auto, e)
    }
    // the auto path must have folded at least once (first landing folds:
    // a store with no generation cannot answer probes at all)
    assert(CubeLog.view(spark, auto).gen >= 1L)
    VecStoreLog.appendBatch(dated, batch, 0L)
    VecStoreLog.compact(spark, batch, cellK = None)
    // compare at the same trained k: refold the auto store over the full
    // corpus (cellKFor(n) both sides) — training is deterministic, so the
    // two stores answer identically
    VecStoreLog.compact(spark, auto, cellK = None)
    def probeSet(dir: String) =
      VecStoreLog.probeTopK(spark, dir, queries, VecStore.ProbeCells)
        .select($"query_id", $"vec_id", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(probeSet(auto) === probeSet(batch),
      "auto-cadence chunked landings must converge to the batch-built answers")
    // retention composes on the auto-built store
    assert(VecStoreLog.expireBefore(spark, auto, "2026-01-02") > 0L)
    assert(!StoreCheck.checkVecStoreLog(spark, auto).exists(_.severity == "error"))

    // the chunked wire landing: crawl day derives from the READING's own
    // timestamp (replay-stable), ids stay the injective (meter, second)
    // composition of the flat side channel
    val parsed = Seq(
      (16, java.sql.Timestamp.valueOf("2026-03-01 10:00:00")),
      (32, java.sql.Timestamp.valueOf("2026-03-02 11:30:00")),
      (33, java.sql.Timestamp.valueOf("2026-03-02 12:00:00"))) // stride miss
      .toDF("meter_id", "reading_timestamp")
    val wireDir = Files.createTempDirectory("vec_wire_chunk_").toString + "/st"
    assert(VecStoreLog.landWireEpoch(
      parsed.withColumn("crawl_date", to_date($"reading_timestamp")), wireDir, 0L) === 2L)
    val landed = spark.read.parquet(s"$wireDir/batch_id=0")
      .select($"vec_id", $"chunk_date".cast("string")).as[(Long, String)]
      .collect().toMap
    assert(landed.values.toSet === Set("2026-03-01", "2026-03-02"))
    assert(landed.keySet ===
      VecStoreLog.readingEmbeddings(parsed).select($"vec_id").as[Long].collect().toSet,
      "the chunked side channel lands the same ids as the flat one")
  }

  test("IvfPqLog: chunked fold probes like flat; expiry drops a day from BOTH generation trees; chunk-aware erase") {
    def probeSet(dir: String) =
      IvfPqLog.probeTopK(spark, dir).select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Int)].collect().toSet
    val flat = Files.createTempDirectory("ivfpq_flat_").toString + "/st"
    val chunk = Files.createTempDirectory("ivfpq_chunk_").toString + "/st"
    (0L to 2L).foreach { e =>
      IvfPqLog.appendBatch(dated.filter(pmod($"vec_id", lit(3L)) === e)
        .drop("crawl_date"), flat, e)
      IvfPqLog.appendBatch(
        dated.filter(pmod($"vec_id", lit(3L)) === e), chunk, e)
    }
    IvfPqLog.compact(spark, flat)
    IvfPqLog.compact(spark, chunk)
    assert(probeSet(chunk) === probeSet(flat))

    // expiry hits codes AND vectors trees (+ grace), refuses the axis-less
    // store, and leaves referential integrity intact
    assert(IvfPqLog.expireBefore(spark, chunk, "2026-01-02") > 0L)
    assert(!dateDirsOnDisk(chunk).contains("chunk_date=2026-01-01"))
    val gen = CubeLog.view(spark, chunk).foldedDir.get.stripPrefix("file:")
    Seq("codes", "vectors").foreach { sub =>
      assert(spark.read.parquet(s"$gen/$sub")
        .filter(pmod($"vec_id", lit(3L)) === 0L).count() === 0L,
        s"expired ids must be gone from the $sub tree")
    }
    assert(IvfPqLog.expireBefore(spark, chunk, "2026-01-02") === 0L, "idempotent")
    val ex = intercept[IllegalArgumentException] {
      IvfPqLog.expireBefore(spark, flat, "2026-01-02")
    }
    assert(ex.getMessage.contains("retention axis"))
    assert(!StoreCheck.checkIvfPqLog(spark, chunk).exists(_.severity == "error"))

    // chunk-aware RTBF on the compressed index: both trees clean, replay
    // no-ops, fsck green
    val survivors = dated.filter(pmod($"vec_id", lit(3L)) =!= 0L)
      .select($"vec_id").as[Long].collect().sorted.take(5).toSeq
    assert(IvfPqLog.eraseByIds(spark, chunk, survivors) > 0L)
    rootsOnDisk(chunk).foreach { r =>
      Seq("codes", "vectors").map(s => new File(r, s)).filter(_.exists())
        .map(_.getPath) match {
        case Seq() =>
          assert(spark.read.parquet(r).filter($"vec_id".isin(survivors: _*))
            .count() === 0L)
        case trees => trees.foreach { t =>
          assert(spark.read.parquet(t).filter($"vec_id".isin(survivors: _*))
            .count() === 0L, s"erased ids must not survive a raw read of $t")
        }
      }
    }
    assert(IvfPqLog.eraseByIds(spark, chunk, survivors) === 0L, "replay no-ops")
    assert(!StoreCheck.checkIvfPqLog(spark, chunk).exists(_.severity == "error"))
  }
}
