package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The maintained ANN index ([[VecStoreLog]]): exactly-once epoch
  * landings, brute-probed live delta, and crash-safe RETRAIN compaction
  * under the [[CubeLog]] generation contract — the vector twin of the
  * cube quartet's maintenance theorems.
  */
class VecStoreLogSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
    .select($"vec_id", $"label", $"embedding")

  private def queries = graft.ops.Tables.embeddings(spark, sf0001)
    .filter($"vec_id" % 50 === 0).select($"vec_id", $"embedding")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"query_id", $"vec_id", $"rank", $"cosine")
      .as[(Long, Long, Int, Double)].collect().toSet

  test("epochs + retraining compaction ≡ the build-once index, probe-for-probe") {
    val dir = java.nio.file.Files.createTempDirectory("vlog_eq_").toString + "/idx"
    val ref = java.nio.file.Files.createTempDirectory("vlog_ref_").toString + "/idx"
    (0L to 2L).foreach { ep =>
      VecStoreLog.appendBatch(emb.filter(pmod($"vec_id", lit(3L)) === ep), dir, ep)
    }
    assert(VecStoreLog.compact(spark, dir, Some(VecStore.CellK)) === 1L)
    VecStore.build(emb, ref, VecStore.CellK)
    val got = rows(VecStoreLog.probeTopK(spark, dir, queries, VecStore.ProbeCells))
    val expect = rows(VecStore.probeTopK(spark, ref, queries, VecStore.ProbeCells))
    assert(got === expect,
      "retrain-over-epochs must answer identically to the batch build")

    // replay of a folded epoch no-ops: no batch dir re-created, same answer
    VecStoreLog.appendBatch(emb.filter(pmod($"vec_id", lit(3L)) === 1L), dir, 1L)
    assert(CubeLog.view(spark, dir).liveBatches.isEmpty,
      "folded epoch must not re-land")
    assert(rows(VecStoreLog.probeTopK(spark, dir, queries, VecStore.ProbeCells))
      === expect)
  }

  test("live delta is retrievable exactly, and the next compaction folds it in place") {
    val dir = java.nio.file.Files.createTempDirectory("vlog_delta_").toString + "/idx"
    // base generation WITHOUT the held-out vectors
    val holdOut = $"vec_id" % 10 === 3
    VecStoreLog.appendBatch(emb.filter(!holdOut), dir, 0L)
    VecStoreLog.compact(spark, dir, Some(VecStore.CellK))
    val before = rows(VecStoreLog.probeTopK(spark, dir, queries, VecStore.ProbeCells))
    assert(!before.exists { case (_, v, _, _) => v % 10 == 3 })

    // the held-out vectors arrive as a live epoch: no retrain, no
    // assignment — yet they are retrievable immediately (brute delta leg)
    VecStoreLog.appendBatch(emb.filter(holdOut), dir, 5L)
    val withDelta = VecStoreLog.probeTopK(spark, dir, queries, VecStore.ProbeCells)
    val withDeltaRows = rows(withDelta)
    assert(withDeltaRows.exists { case (_, v, _, _) => v % 10 == 3 },
      "fresh vectors must be retrievable the moment they land")
    // the delta leg is exact: every delta candidate beats or ties what the
    // pruned base offered, so ranks only improve — spot-check that every
    // query still returns k rows
    assert(withDelta.groupBy($"query_id").count()
      .filter($"count" =!= 5).count() === 0)

    // compaction folds the delta into a RETRAINED layout: no live batches
    // left, and the cell-pruned path answers exactly like a build-once
    // index over the same full corpus. (It is NOT asserted equal to the
    // pre-fold answers: the brute delta leg sees every delta vector while
    // the folded path is cell-pruned — the delta-probed answers can be
    // strictly better, by design.)
    VecStoreLog.compact(spark, dir, Some(VecStore.CellK))
    val v = CubeLog.view(spark, dir)
    assert(v.gen === 2L && v.liveBatches.isEmpty)
    val ref = java.nio.file.Files.createTempDirectory("vlog_dref_").toString + "/idx"
    VecStore.build(emb, ref, VecStore.CellK)
    assert(rows(VecStoreLog.probeTopK(spark, dir, queries, VecStore.ProbeCells))
      === rows(VecStore.probeTopK(spark, ref, queries, VecStore.ProbeCells)),
      "the folded store must answer exactly like a build-once index over " +
        "the same corpus")
  }

  test("shouldCompact fires EXACTLY at the probe-budget boundary; appendBatchAuto folds there and not before") {
    val dir = java.nio.file.Files.createTempDirectory("vlog_cad_").toString + "/idx"
    // base: 400 vectors at k=16, probeCells=4 → probed share s = 1/4; the
    // trigger derived from the r = 1.3 probe-cost bound is
    // f ≥ (r−1)·s/(1−r·s) = 0.075/0.675 = 1/9, so the boundary is
    // delta = 400/9 = 44.44… rows: 44 under, 45 at-or-over
    VecStoreLog.appendBatch(emb.filter($"vec_id" < 400), dir, 0L)
    VecStoreLog.compact(spark, dir, Some(VecStore.CellK))
    assert(!VecStoreLog.shouldCompact(spark, dir), "no delta: no fold")

    // 44 delta rows: under the boundary — must NOT trigger
    assert(VecStoreLog.appendBatch(
      emb.filter($"vec_id" >= 400 && $"vec_id" < 444), dir, 1L) === 44L)
    assert(!VecStoreLog.shouldCompact(spark, dir),
      "44/400 < 1/9 — a probe is still within 1.3× its all-folded twin")

    // the 45th row crosses: 45/400 ≥ 1/9, the trigger fires (≥)
    assert(VecStoreLog.appendBatch(emb.filter($"vec_id" === 444), dir, 2L) === 1L)
    assert(VecStoreLog.shouldCompact(spark, dir),
      "45/400 ≥ 1/9 — the next probe could exceed the 1.3× bound")

    // the auto landing path folds when (and only when) the rule says so
    val dir2 = java.nio.file.Files.createTempDirectory("vlog_auto_").toString + "/idx"
    VecStoreLog.appendBatch(emb.filter($"vec_id" < 400), dir2, 0L)
    VecStoreLog.compact(spark, dir2, Some(VecStore.CellK))
    assert(!VecStoreLog.appendBatchAuto(
      emb.filter($"vec_id" >= 400 && $"vec_id" < 444), dir2, 1L))
    assert(CubeLog.view(spark, dir2).liveBatches.map(_._1) === Seq(1L))
    assert(VecStoreLog.appendBatchAuto(emb.filter($"vec_id" === 444), dir2, 2L))
    val v = CubeLog.view(spark, dir2)
    assert(v.liveBatches.isEmpty && v.gen === 2L,
      "crossing the boundary must have folded the delta")
    // post-fold probes answer like a build-once index over the same corpus
    val ref = java.nio.file.Files.createTempDirectory("vlog_aref_").toString + "/idx"
    VecStore.build(emb.filter($"vec_id" < 445), ref, VecStore.cellKFor(445L))
    assert(rows(VecStoreLog.probeTopK(spark, dir2, queries, VecStore.ProbeCells))
      === rows(VecStore.probeTopK(spark, ref, queries, VecStore.ProbeCells)))
  }

  test("epoch landings split into multiple files above the rows-per-file threshold") {
    val dir = java.nio.file.Files.createTempDirectory("vlog_mf_").toString + "/idx"
    VecStoreLog.appendBatch(emb.filter($"vec_id" < 250), dir, 0L, rowsPerFile = 100L)
    val files = new java.io.File(s"$dir/batch_id=0").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files === 3, s"250 rows at 100/file must land as 3 files, got $files")
    // a small epoch still lands as ONE file (the small-files rule)
    VecStoreLog.appendBatch(emb.filter($"vec_id" >= 250 && $"vec_id" < 300), dir, 1L)
    val files1 = new java.io.File(s"$dir/batch_id=1").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files1 === 1)
    // multi-file epochs read back whole
    assert(VecStoreLog.vectors(spark, dir).count() === 300L)
  }

  test("compaction re-derives k = cellKFor(n) as the corpus grows; crash leaves the old generation readable") {
    val dir = java.nio.file.Files.createTempDirectory("vlog_k_").toString + "/idx"
    val small = emb.filter($"vec_id" < 100)
    VecStoreLog.appendBatch(small, dir, 0L)
    VecStoreLog.compact(spark, dir) // derived k over ~100 vectors
    val k1 = VecStore.codebook(spark,
      CubeLog.view(spark, dir).foldedDir.get).cids.length
    assert(k1 === VecStore.cellKFor(small.count()))

    VecStoreLog.appendBatch(emb.filter($"vec_id" >= 100), dir, 1L)
    // crash-sim BEFORE the next commit: an orphan fold is invisible
    val n = VecStoreLog.vectors(spark, dir).count()
    VecStore.build(emb, s"$dir/folded_gen=9", VecStore.CellK) // no marker
    assert(CubeLog.view(spark, dir).gen === 1L,
      "uncommitted generation must not become the read generation")
    assert(VecStoreLog.vectors(spark, dir).count() === n)

    VecStoreLog.compact(spark, dir)
    val v = CubeLog.view(spark, dir)
    val k2 = VecStore.codebook(spark, v.foldedDir.get).cids.length
    assert(k2 === VecStore.cellKFor(emb.count()),
      "the sqrt(n) rule must be re-applied over the grown corpus")
    assert(k2 > k1)
    // the orphan gen was swept by the successful compaction's cleanup
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/folded_gen=9")))
  }

  /** A probe's every output column, in (query_id, rank) order. */
  private def answer(df: org.apache.spark.sql.DataFrame) =
    (df.schema.map(f => (f.name, f.dataType)),
      df.orderBy($"query_id", $"rank").collect().toSeq)

  test("driver-planned probes ≡ the distributed plan on every column, across store shapes") {
    val part = emb.filter($"vec_id" < 300).localCheckpoint(eager = true)
    val vecs = part.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    // (query id, whose embedding): frames built from driver-side rows
    // (LocalRelation); each frame's repartitioned twin is the same rows
    // on the distributed plan. One-row frames are driver-planned; the
    // several-row frame takes the distributed plan from either side
    def frame(qs: (Long, Long)*) =
      qs.map { case (id, src) => (id, vecs(src)) }.toDF("vec_id", "embedding")
    val frames = Seq(
      "one query, id not stored" -> frame(-1L -> 7L),
      "one query whose id is a stored vec_id" -> frame(7L -> 7L),
      "several queries" -> frame(7L -> 7L, -2L -> 123L, 45L -> 45L))
    def agree(store: String, dir: String): Unit = frames.foreach { case (name, q) =>
      val twin = q.repartition(1)
      assert(VecStore.localQuery(q).isDefined === (q.count() == 1L) &&
        VecStore.localQuery(twin).isEmpty, s"$store, $name: routing")
      val got = answer(VecStoreLog.probeTopK(spark, dir, q, VecStore.ProbeCells))
      assert(got._2.nonEmpty, s"$store, $name: no rows")
      assert(got === answer(VecStoreLog.probeTopK(spark, dir, twin, VecStore.ProbeCells)),
        s"$store, $name")
    }
    def flatStore(dir: String, vs: org.apache.spark.sql.DataFrame): Unit = {
      (0L to 1L).foreach(ep =>
        VecStoreLog.appendBatch(vs.filter(pmod($"vec_id", lit(3L)) === ep), dir, ep))
      VecStoreLog.compact(spark, dir, Some(VecStore.CellK))
    }

    val dir = java.nio.file.Files.createTempDirectory("vlog_local_").toString + "/idx"
    flatStore(dir, part)
    agree("flat, all folded", dir)
    VecStoreLog.appendBatch(part.filter(pmod($"vec_id", lit(3L)) === 2L), dir, 2L)
    agree("flat, one live epoch", dir)
    assert(VecStoreLog.eraseByIds(spark, dir, (0L until 300L by 37L)) > 0L)
    agree("flat, after an in-place erase", dir)

    val chunked = java.nio.file.Files.createTempDirectory("vlog_local_ch_").toString + "/idx"
    val dated = VecStoreLog.withCrawlDates(part)
    VecStoreLog.appendBatch(dated.filter(pmod($"vec_id", lit(2L)) === 0L), chunked, 0L)
    VecStoreLog.compact(spark, chunked, Some(VecStore.CellK))
    VecStoreLog.appendBatch(dated.filter(pmod($"vec_id", lit(2L)) === 1L), chunked, 1L)
    agree("chunked, one live epoch", chunked)

    // the same path deleted and re-created over other vectors: a new
    // codebook, which the driver plan must read afresh
    val other = emb.filter($"vec_id" >= 300 && $"vec_id" < 600)
    val fresh = java.nio.file.Files.createTempDirectory("vlog_local_fr_").toString + "/idx"
    flatStore(fresh, other)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    flatStore(dir, other)
    agree("re-created at the same path", dir)
    frames.foreach { case (name, q) =>
      assert(answer(VecStoreLog.probeTopK(spark, dir, q, VecStore.ProbeCells)) ===
        answer(VecStoreLog.probeTopK(spark, fresh, q, VecStore.ProbeCells)),
        s"re-created store answers like a new one, $name")
    }
  }

  /** A folded store with one live epoch, for the probe-cost guards. */
  private lazy val liveStore: String = {
    val dir = java.nio.file.Files.createTempDirectory("vlog_guard_").toString + "/idx"
    VecStoreLog.appendBatch(emb.filter($"vec_id" < 200), dir, 0L)
    VecStoreLog.compact(spark, dir, Some(VecStore.CellK))
    VecStoreLog.appendBatch(emb.filter($"vec_id" >= 200 && $"vec_id" < 260), dir, 1L)
    dir
  }

  private def oneQuery(id: Long) = emb.filter($"vec_id" === id)
    .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    .toDF("vec_id", "embedding")

  test("a single-query driver-planned probe submits at most two Spark jobs") {
    // the first probe of a store reads each root's parquet schema once
    // (Tables.cachedParquet); the guard counts a later probe: the rank
    // window's shuffle and its result, no codebook scan, no pruning subquery
    VecStoreLog.probeTopK(spark, liveStore, oneQuery(3L), VecStore.ProbeCells).collect()
    val q = oneQuery(11L)
    val (top, jobs) = jobsOf(
      VecStoreLog.probeTopK(spark, liveStore, q, VecStore.ProbeCells).collect())
    assert(top.length === 5)
    assert(jobs <= 2, s"a one-query probe submitted $jobs jobs")
  }

  test("a probe reads the codebook without an ignored-path warning") {
    val (_, warned) = warningsOf("org.apache.spark.sql.execution.datasources.DataSource") {
      VecStoreLog.probeTopK(spark, liveStore, oneQuery(5L), VecStore.ProbeCells).collect()
      VecStoreLog.probeTopK(spark, liveStore, oneQuery(5L).repartition(1),
        VecStore.ProbeCells).collect()
      StoreCheck.checkVecStoreLog(spark, liveStore)
    }
    assert(!warned.exists(_.contains("All paths were ignored")), warned.mkString("\n"))
  }
}
