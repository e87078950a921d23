package graft.llm

import graft.SparkSpec
import graft.sources.CubeLog
import org.apache.spark.sql.functions._

/** The incremental dedup store ([[DedupLog]]): per-landing pair discovery
  * + reduced-graph relabeling ≡ one batch dedup of the corpus-so-far at
  * EVERY landing (not just the final state), the fold preserves the view,
  * replays no-op, and RTBF re-resolves exactly the touched components —
  * keeper re-election, splits, and pairless drop-out included. */
class DedupLogSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = graft.ops.Tables.documentsParallel(spark, sf0001)
    .select($"doc_id", $"text")

  /** Batch truth over an arbitrary doc frame: the same label semantics
    * `dedup_clusters` ships. */
  private def batchLabels(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    Dedup.clusterLabelsAuto(
      Dedup.minhashPairs(docs).select($"d1", $"d2"))
      .as[(Long, Long)].collect().toSet

  private def viewSet(dir: String): Set[(Long, Long)] =
    DedupLog.labelsView(spark, dir).as[(Long, Long)].collect().toSet

  test("incremental labels ≡ batch labels at every landing, across the fold, and under replay") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_log_").toString + "/st"
    val slices = (0L to 2L).map(e => corpus.filter(pmod($"doc_id", lit(3L)) === e))

    DedupLog.appendEpoch(slices(0), dir, 0L)
    assert(viewSet(dir) === batchLabels(slices(0)))

    DedupLog.appendEpoch(slices(1), dir, 1L)
    val upTo1 = batchLabels(slices(0).unionByName(slices(1)))
    assert(viewSet(dir) === upTo1)

    // the fold must preserve the view exactly and leave no live epochs
    DedupLog.compact(spark, dir)
    assert(CubeLog.view(spark, dir).liveBatches.isEmpty)
    assert(viewSet(dir) === upTo1)

    // folded-epoch replay: watermark no-op
    assert(DedupLog.appendEpoch(slices(0), dir, 0L) === 0L)
    assert(viewSet(dir) === upTo1)

    DedupLog.appendEpoch(slices(2), dir, 2L)
    val full = batchLabels(corpus)
    assert(viewSet(dir) === full)

    // the test must actually exercise cross-epoch merging: some cluster
    // spans at least two of the doc_id-mod-3 slices
    val spans = DedupLog.labelsView(spark, dir)
      .groupBy($"label").agg(countDistinct(pmod($"node", lit(3L))).as("eps"))
      .filter($"eps" >= 2).count()
    assert(spans > 0, "no cluster spans epochs — the slicing does not bite")

    // live-epoch replay (the foreachBatch retry shape): same final view
    assert(DedupLog.appendEpoch(slices(2), dir, 2L) > 0L)
    assert(viewSet(dir) === full)
  }

  test("erase re-resolves touched components ≡ batch dedup of the survivor corpus; replay no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_erase_").toString + "/st"
    (0L to 1L).foreach { e =>
      DedupLog.appendEpoch(corpus.filter(pmod($"doc_id", lit(3L)) === e), dir, e)
    }
    DedupLog.compact(spark, dir)
    DedupLog.appendEpoch(corpus.filter(pmod($"doc_id", lit(3L)) === 2L), dir, 2L)

    // erase every 37th id — the ErasureStore convention; assert the
    // request actually hits labeled docs (keepers included) so the
    // component-repair path bites
    val labeled = DedupLog.labelsView(spark, dir).as[(Long, Long)].collect()
    val erased = labeled.map(_._1).filter(_ % 37 == 0)
    assert(erased.nonEmpty, "request must hit labeled docs")
    assert(labeled.exists { case (n, l) => n == l && n % 37 == 0 },
      "request must hit at least one cluster keeper (re-election path)")

    val maxId = corpus.agg(max($"doc_id").cast("long")).head().getLong(0)
    val ids = graft.sources.ErasureStore.eraseIdsUpTo(maxId)
    val removed = DedupLog.eraseDocs(spark, dir, ids)
    assert(removed > 0L)

    // survivors' labels ≡ a from-scratch batch dedup of the survivor corpus
    val survDocs = corpus.filter($"doc_id" % 37 =!= 0)
    assert(viewSet(dir) === batchLabels(survDocs))
    // and the erased ids' signatures are gone from every source
    assert(DedupLog.sigsAll(spark, dir).filter($"doc_id" % 37 === 0).count() === 0L)

    // replay: zero hits, nothing rewritten
    assert(DedupLog.eraseDocs(spark, dir, ids) === 0L)
    assert(viewSet(dir) === batchLabels(survDocs))
  }

  test("a landing that merges two committed components relabels both to the global min") {
    // controlled corpus on the shingle level: t1 = A+B and t2 = B+C share
    // only B (below the 0.5 pair threshold — two distinct components),
    // while the bridge text B sits inside both (J = |B|/|A+B| well above
    // it). A later landing of the bridge must MERGE the two committed
    // components into one labeled by the global min — the multi-affected-
    // label path of the reduced-graph relabel. Pair structure is
    // precondition-asserted, so the test cannot silently degrade into
    // the single-component case.
    // the Jaccard window for this structure is narrow (J(t1,t2) =
    // B/(A+B+C) must stay < 0.5 while J(bridge,ti) = B/(A+B) ≥ 0.5 AND a
    // full 4-row band must align for the LSH candidate to exist), so this
    // exact shape was found by scanning (|A|, |B|, wording) against the
    // real minhashPairs structure — fixed hash constants make it stable;
    // the precondition assertion below keeps it honest if anything shifts
    val a = (1 to 3).map(i => s"alpha sentence number $i with some items").mkString(" ")
    val b = (1 to 7).map(i => s"shared bridge sentence $i common to both texts").mkString(" ")
    val c = (1 to 3).map(i => s"gamma phrase index $i using other items").mkString(" ")
    val tOther = "an entirely unrelated third component text " * 4
    val docs = Seq(
      (10L, s"$a $b"), (11L, s"$a $b"), // epoch 0 — component min 10
      (20L, s"$b $c"), (21L, s"$b $c"), // epoch 1 — component min 20
      (30L, tOther), (31L, tOther), // epoch 1 — untouched bystander
      (5L, b) // epoch 2 — the bridge, new global min
    ).toDF("doc_id", "text")
    val p = Dedup.minhashPairs(docs).select($"d1", $"d2")
      .as[(Long, Long)].collect().toSet
    assert(!p.contains((10L, 20L)), "t1 and t2 must NOT pair directly")
    assert(p.contains((5L, 10L)) && p.contains((5L, 20L)),
      "the bridge must pair with both components")

    val dir = java.nio.file.Files.createTempDirectory("dedup_merge_").toString + "/st"
    DedupLog.appendEpoch(docs.filter($"doc_id".between(10L, 19L)), dir, 0L)
    DedupLog.appendEpoch(docs.filter($"doc_id" >= 20L), dir, 1L)
    val before = viewSet(dir)
    assert(before.filter(_._2 == 10L).map(_._1) === Set(10L, 11L))
    assert(before.filter(_._2 == 20L).map(_._1) === Set(20L, 21L))

    DedupLog.appendEpoch(docs.filter($"doc_id" === 5L), dir, 2L)
    val after = viewSet(dir)
    // both committed components relabeled wholesale to the global min —
    // the virtual-edge reduction carried every old member along
    assert(after.filter(_._2 == 5L).map(_._1) === Set(5L, 10L, 11L, 20L, 21L))
    // the bystander component kept its rows verbatim
    assert(after.filter(_._2 == 30L) === before.filter(_._2 == 30L))
    // batch equality for the whole crafted corpus
    assert(after === batchLabels(docs))
  }

  test("compaction cadence: fold fires exactly at the live-epoch bound; view unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_cadence_").toString + "/st"
    (0L to 2L).foreach { e =>
      DedupLog.appendEpochAuto(corpus.filter(pmod($"doc_id", lit(4L)) === e), dir, e, maxLive = 4)
    }
    assert(!DedupLog.shouldCompact(spark, dir, maxLive = 4), "3 live < bound 4")
    val before = viewSet(dir)
    DedupLog.appendEpochAuto(corpus.filter(pmod($"doc_id", lit(4L)) === 3L), dir, 3L, maxLive = 4)
    assert(graft.sources.CubeLog.view(spark, dir).liveBatches.isEmpty,
      "the 4th landing reaches the bound and must fold")
    assert(graft.sources.CubeLog.view(spark, dir).gen === 1L)
    assert(viewSet(dir) === batchLabels(corpus), "fold must preserve the incremental view")
    assert(before.subsetOf(viewSet(dir)) || before.nonEmpty) // sanity: pre-fold view existed
  }

  test("erase crash-repair: a replay after signature-only removal repairs the dangling labels") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_crash_").toString + "/st"
    (0L to 1L).foreach { e =>
      DedupLog.appendEpoch(corpus.filter(pmod($"doc_id", lit(2L)) === e), dir, e)
    }
    val maxId = corpus.agg(max($"doc_id").cast("long")).head().getLong(0)
    val ids = graft.sources.ErasureStore.eraseIdsUpTo(maxId)

    // crash-sim: the first half of eraseDocs ran (signatures removed),
    // the label repair did not — inject by deleting sig rows directly
    val req = ids.toSet
    graft.sources.CubeLog.view(spark, dir).liveBatches.map(_._2).foreach { ep =>
      val root = s"$ep/sigs"
      val cur = spark.read.parquet(root)
      val kept = cur.filter(!$"doc_id".isin(ids: _*)).localCheckpoint(eager = true)
      kept.repartition($"sp").write.mode("overwrite").partitionBy("sp").parquet(root)
    }
    assert(DedupLog.labelsView(spark, dir).filter($"node" % 37 === 0).count() > 0,
      "the crash state must actually dangle labels for this test to bite")

    // the documented repair: replay the SAME request — zero sig rows
    // removed, but the label repair must still run
    assert(DedupLog.eraseDocs(spark, dir, ids) === 0L)
    assert(viewSet(dir) === batchLabels(corpus.filter($"doc_id" % 37 =!= 0)))
    // and the fsck agrees
    assert(!graft.sources.StoreCheck.checkDedupLog(spark, dir)
      .exists(_.severity == "error"))
  }

  test("chooseMaintained: measured boundary pinned both sides; mixed-regime store ≡ the batch answer") {
    // the measured crossover (SCALING.md "Incremental dedup"): batch
    // re-dedup wall 1575 ms + 100 µs/doc clears the ~4400 ms landing
    // floor at 28,250 docs — the chooser must flip exactly there
    assert(!Dedup.chooseMaintained(28249L, 0L), "one doc under the boundary: batch")
    assert(Dedup.chooseMaintained(28250L, 0L), "at the boundary: maintained")
    // epoch rows count toward the batch side's corpus (a batch re-dedup
    // pays for the arriving epoch too)
    assert(Dedup.chooseMaintained(20000L, 8250L))
    assert(!Dedup.chooseMaintained(20000L, 8249L))

    // regimes interleave in ONE store (the wiring flips mid-stream as the
    // corpus crosses the boundary): batch → incremental → batch landings
    // must equal the batch dedup of the full corpus, through the same
    // last-wins label view
    val corpus = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text").localCheckpoint(eager = true)
    val dir = java.nio.file.Files.createTempDirectory("dedup_mixed_").toString + "/st"
    DedupLog.appendEpochBatch(corpus.filter(pmod($"doc_id", lit(3L)) === 0L), dir, 0L)
    DedupLog.appendEpoch(corpus.filter(pmod($"doc_id", lit(3L)) === 1L), dir, 1L)
    DedupLog.appendEpochBatch(corpus.filter(pmod($"doc_id", lit(3L)) === 2L), dir, 2L)
    val mixed = DedupLog.labelsView(spark, dir)
      .as[(Long, Long)].collect().toSet
    val batch = Dedup.clusterLabelsAuto(
      Dedup.minhashPairs(corpus).select($"d1", $"d2"))
      .as[(Long, Long)].collect().toSet
    assert(mixed === batch,
      "a store landed under interleaved regimes must answer the batch truth")
    assert(mixed.nonEmpty)
    // and the store stays foldable + fsck-clean like any other
    DedupLog.compact(spark, dir)
    assert(DedupLog.labelsView(spark, dir).as[(Long, Long)].collect().toSet === batch)
    assert(!graft.sources.StoreCheck.checkDedupLog(spark, dir)
      .exists(_.severity == "error"))
  }

  test("a store landed at a different signature-partition count fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_sp_").toString + "/st"
    val docs = graft.ops.Tables.documentsParallel(spark, sf0001)
      .select($"doc_id", $"text")
    DedupLog.appendEpoch(docs.filter($"doc_id" < 100), dir, 0L)
    assert(DedupLog.storedSigParts(spark, dir).contains(DedupLog.SigParts),
      "the first landing must persist the _sp layout sidecar")
    // simulate a store landed by a build with a different SigParts: a
    // further landing would mix two partition layouts in one store
    val p = new org.apache.hadoop.fs.Path(s"$dir/_sp")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(p, true)
    try out.write("4".getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalArgumentException] {
      DedupLog.appendEpoch(docs.filter($"doc_id" >= 100 && $"doc_id" < 200), dir, 1L)
    }
    assert(ex.getMessage.contains("mix two layouts"))
  }

  test("erase and expiry put every broadcast hint on a join side") {
    // a hint on a frame that is also unioned (the erased ids join the
    // touched nodes) is dropped with a HintErrorLogger warning
    val (_, dropped) = warningsOf("org.apache.spark.sql.catalyst.analysis.HintErrorLogger") {
      Seq("dedup_incremental_erase", "dedup_expire_clusters").foreach { name =>
        graft.SparkEntry.queries(name)(spark, sf0001).collect()
      }
    }
    assert(dropped.isEmpty, s"a broadcast hint was dropped: $dropped")
  }
}
