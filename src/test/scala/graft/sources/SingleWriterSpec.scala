package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** The single-writer guard on CubeLog stores (r15): the commit watermark
  * guards REPLAYS, but two concurrent jobs landing the same epoch id into
  * one store would both pass it and interleave task files inside
  * `batch_id=N` — silent corruption. Every landing now claims its epoch
  * (`_claims/<id>`, atomic create, token = [[CubeLog.defaultWriter]]):
  *
  *  - two CONCURRENT landings of one epoch → exactly one wins; the loser
  *    fails loudly (flat AND chunked layouts);
  *  - the same writer re-landing (the streaming replay path) reclaims its
  *    own token and stays self-healing;
  *  - a completed foreign epoch may be re-landed (idempotent overwrite) —
  *    only an INCOMPLETE foreign claim blocks;
  *  - the fsck surfaces a torn claim (claimed, nothing committed) with
  *    the named repair; [[CubeLog.releaseClaim]] clears it;
  *  - claims of folded epochs are swept with their batch dirs;
  *  - an empty landing returns its claim (no epoch will ever commit).
  */
class SingleWriterSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
    .select($"vec_id", $"label", $"embedding")

  test("two concurrent landings of one epoch: exactly one wins, the loser fails loudly (flat + chunked)") {
    Seq(false, true).foreach { chunked =>
      val dir = Files.createTempDirectory("sw_race_").toString + "/st"
      val rows =
        if (chunked) VecStoreLog.withCrawlDates(emb)
        else emb
      def landHere(): Long = VecStoreLog.appendBatch(rows, dir, 0L)

      // foreign writer A claims and is mid-write (no data yet); THIS
      // job's landing must fail loudly, not interleave
      CubeLog.claimEpoch(spark, dir, 0L, "jobA")
      val loser = intercept[IllegalStateException](landHere())
      assert(loser.getMessage.contains("claimed by writer 'jobA'") &&
        loser.getMessage.contains("releaseClaim"))
      // the fsck names the torn claim
      val findings = StoreCheck.checkCubeLog(spark, dir)
      assert(findings.exists(f => f.check == "torn-claim" &&
        f.detail.contains("jobA")), findings.mkString("; "))

      // the operator confirms jobA is dead → releaseClaim → landing heals
      assert(CubeLog.releaseClaim(spark, dir, 0L))
      assert(landHere() === rows.count())
      assert(!StoreCheck.checkCubeLog(spark, dir).exists(_.check == "torn-claim"))

      // a COMPLETED foreign epoch may be re-landed: idempotent overwrite,
      // claim taken over, no error
      CubeLog.claimEpoch(spark, dir, 0L, "jobC")
      // (jobC's claim conflicts, but batch_id=0 is complete — proceeds)
      assert(landHere() === rows.count())
    }
  }

  test("a genuine two-thread race on one epoch's claim admits exactly one winner") {
    val dir = Files.createTempDirectory("sw_threads_").toString + "/st"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CountDownLatch(1)
    // two writers race the atomic-create arbiter itself — in production
    // these are two driver JVMs whose landings each claim first
    def attempt(writer: String) = Future {
      gate.await()
      try { CubeLog.claimEpoch(spark, dir, 0L, writer); Option.empty[Throwable] }
      catch { case t: IllegalStateException => Some(t) }
    }
    val a = attempt("thread-A"); val b = attempt("thread-B")
    gate.countDown()
    val outcomes = Seq(Await.result(a, 5.minutes), Await.result(b, 5.minutes))
    assert(outcomes.count(_.isEmpty) === 1,
      s"exactly one claim must win, got $outcomes")
    assert(outcomes.flatten.head.getMessage.contains("claimed by writer"))
    // the losing job never writes; the winner (simulated: release the
    // race's claim, land under this job's token) commits one coherent epoch
    assert(CubeLog.releaseClaim(spark, dir, 0L))
    val rows = emb.localCheckpoint(eager = true)
    assert(VecStoreLog.appendBatch(rows, dir, 0L) === rows.count())
    assert(spark.read.parquet(s"$dir/batch_id=0").count() === rows.count())
  }

  test("same-writer replays self-heal; folded claims are swept; empty landings return their claim") {
    val dir = Files.createTempDirectory("sw_replay_").toString + "/st"
    VecStoreLog.appendBatch(emb.filter($"vec_id" % 2 === 0), dir, 0L)
    // the default writer re-lands its own epoch (streaming replay after a
    // mid-write crash): reclaim, overwrite, no error
    assert(VecStoreLog.appendBatch(emb.filter($"vec_id" % 2 === 0), dir, 0L) > 0L)
    assert(new File(s"$dir/_claims/0").exists())

    // the fold sweeps the folded epoch's claim with its batch dir
    VecStoreLog.compact(spark, dir, cellK = Some(VecStore.CellK))
    VecStoreLog.appendBatch(emb.filter($"vec_id" % 2 === 1), dir, 1L)
    VecStoreLog.compact(spark, dir, cellK = Some(VecStore.CellK))
    assert(!new File(s"$dir/_claims/0").exists(),
      "claims of folded epochs ride the cleanup sweep")

    // an empty landing leaves no claim behind (it will never commit an
    // epoch dir, so a kept claim could only read as torn)
    assert(VecStoreLog.appendBatch(emb.limit(0), dir, 9L) === 0L)
    assert(!new File(s"$dir/_claims/9").exists())
    // replays of FOLDED epochs no-op before ever touching claims
    assert(VecStoreLog.appendBatch(emb.filter($"vec_id" % 2 === 0), dir, 0L) === 0L)
    assert(!new File(s"$dir/_claims/0").exists())
  }

  test("the guard holds on every CubeLog landing surface") {
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").limit(100)
    val events = graft.ops.Tables.events(spark, sf0001)
    def blocked(body: => Unit): Unit = {
      val ex = intercept[IllegalStateException](body)
      assert(ex.getMessage.contains("claimed by writer 'other-job'"))
    }
    val p = Files.createTempDirectory("sw_all_").toString
    CubeLog.claimEpoch(spark, s"$p/posting", 0L, "other-job")
    blocked(PostingLog.appendBatch(docs, s"$p/posting", 0L))
    CubeLog.claimEpoch(spark, s"$p/dedup", 0L, "other-job")
    blocked(graft.llm.DedupLog.appendEpoch(docs, s"$p/dedup", 0L))
    CubeLog.claimEpoch(spark, s"$p/ivfpq", 0L, "other-job")
    blocked(IvfPqLog.appendBatch(emb, s"$p/ivfpq", 0L))
    CubeLog.claimEpoch(spark, s"$p/sketch", 0L, "other-job")
    blocked(SketchStore.appendBatch(events, s"$p/sketch", 0L))
    CubeLog.claimEpoch(spark, s"$p/hist", 0L, "other-job")
    blocked(HistStore.appendBatch(events, s"$p/hist", 0L))
    CubeLog.claimEpoch(spark, s"$p/hh", 0L, "other-job")
    blocked(HeavyHitterStore.appendBatch(events, s"$p/hh", 0L))
  }
}
