package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
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

  /** A probe's schema and every output column, in (query_id, rank) order;
    * or the error condition it fails with. */
  private def answer(df: => org.apache.spark.sql.DataFrame) =
    scala.util.Try { val d = df; (d.schema, d.orderBy($"query_id", $"rank").collect().toSeq) }
      .toEither.left.map { e =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
        }.getOrElse(e.toString)
      }

  test("driver-planned probes ≡ the distributed plan on every column, across store shapes") {
    // two stored copies of vector 7's embedding tie with it (and each
    // other) at cosine 1: 1003 lands with 7 in the folded epochs, 1004 in
    // the live one, so ties are broken by vec_id within and across legs
    val base = emb.filter($"vec_id" < 300)
    val part = Seq(1003L, 1004L).foldLeft(base)((df, id) =>
      df.unionByName(base.filter($"vec_id" === 7L).withColumn("vec_id", lit(id))))
      .localCheckpoint(eager = true)
    val vecs = part.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    // (query id, whose embedding): frames built from driver-side rows
    // (LocalRelation); each frame's repartitioned twin is the same rows
    // on the distributed plan. One-row frames are driver-served; the
    // several-row frame takes the distributed plan from either side
    def frame(qs: (Long, Array[Float])*) = qs.toDF("vec_id", "embedding")
    val frames = Seq(
      "one query, id not stored" -> frame(-1L -> vecs(7L)),
      "one query whose id is a stored vec_id" -> frame(7L -> vecs(7L)),
      "several queries" -> frame(7L -> vecs(7L), -2L -> vecs(123L), 45L -> vecs(45L)),
      // a zero query's cosine divides by zero: under ANSI (the session's
      // default) the SQL division fails, and both plans must fail alike
      "a zero-vector query" -> frame(-3L -> Array.fill(vecs(7L).length)(0f)))
    def agree(store: String, dir: String): Unit = frames.foreach { case (name, q) =>
      val twin = q.repartition(1)
      assert(VecStore.localQuery(q).isDefined === (q.count() == 1L) &&
        VecStore.localQuery(twin).isEmpty, s"$store, $name: routing")
      val probe = VecStoreLog.probeTopK(spark, dir, q, VecStore.ProbeCells)
      assert(probe.queryExecution.logical.isInstanceOf[LocalRelation] ===
        (q.count() == 1L && name != "a zero-vector query"), s"$store, $name: plan")
      val got = answer(probe)
      assert(got.forall(_._2.nonEmpty), s"$store, $name: no rows")
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
    val tied = answer(VecStoreLog.probeTopK(spark, dir, frames.head._2, VecStore.ProbeCells))
    val top2 = tied.map(_._2.take(2).map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine"))))
    assert(top2.map(_.map(_._1)) === Right(Seq(7L, 1003L)) &&
      top2.exists(t => t(0)._2 == t(1)._2), s"a cosine tie ranks by vec_id: $top2")
    VecStoreLog.appendBatch(part.filter(pmod($"vec_id", lit(3L)) === 2L), dir, 2L)
    agree("flat, one live epoch", dir)
    assert(VecStoreLog.eraseByIds(spark, dir, (0L until 300L by 37L)) > 0L)
    agree("flat, after an in-place erase", dir)
    // empty one of the query's probed cells: the erase deletes its directory
    val gen = CubeLog.view(spark, dir).foldedDir.get
    val q7 = VecStore.localQuery(frames.head._2).get
    val probed = VecStore.codebook(spark, gen).rank(q7.qv, q7.norm2)(1)
    val inCell = spark.read.parquet(gen).filter($"cell" === probed)
      .select($"vec_id").as[Long].collect().toSeq
    assert(VecStoreLog.eraseByIds(spark, dir, inCell) === inCell.size.toLong)
    assert(!new java.io.File(s"$gen/cell=$probed").exists(), "the emptied cell is deleted")
    agree("flat, a probed cell erased and deleted", dir)

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

  test("a one-query probe whose probed bytes exceed the driver gate takes the distributed plan") {
    assert(VecStore.servedOnDriver(VecStore.DriverProbeMaxBytes))
    assert(!VecStore.servedOnDriver(VecStore.DriverProbeMaxBytes + 1))
    // wide random vectors (poorly compressible, ~16 KB each): a small
    // folded generation, then a live epoch over the gate — every live
    // byte is probed
    val dims = 4096
    val r = new scala.util.Random(11)
    def wide(ids: Range) = ids.map(i => (i.toLong, i % 7, Array.fill(dims)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("vlog_gate_").toString + "/idx"
    VecStoreLog.appendBatch(wide(0 until 40), dir, 0L)
    VecStoreLog.compact(spark, dir, Some(4))
    val live = wide(40 until 40 + (VecStore.DriverProbeMaxBytes / (dims * 4) * 3 / 2).toInt)
    VecStoreLog.appendBatch(live, dir, 1L)
    val epochBytes = new java.io.File(s"$dir/batch_id=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(!VecStore.servedOnDriver(epochBytes), s"live epoch of $epochBytes bytes")
    val q = Seq((-1L, Array.fill(dims)(r.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val (got, jobs) = jobsOf(answer(VecStoreLog.probeTopK(spark, dir, q, 1)))
    assert(jobs > 0, "over the gate, the probe runs on the cluster")
    assert(got === answer(VecStoreLog.probeTopK(spark, dir, q.repartition(1), 1)))
    assert(got.map(_._2.length) === Right(5))
  }

  private def oneQuery(id: Long) = emb.filter($"vec_id" === id)
    .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    .toDF("vec_id", "embedding")

  test("a single-query driver-served probe submits no Spark job, cold or warm") {
    // cold: the first probe right after a fold and right after a landing
    // (new roots, nothing cached); warm: a later probe of the same store
    val dir = java.nio.file.Files.createTempDirectory("vlog_guard_").toString + "/idx"
    VecStoreLog.appendBatch(emb.filter($"vec_id" < 200), dir, 0L)
    VecStoreLog.compact(spark, dir, Some(VecStore.CellK))
    val probes = Seq("after compact" -> 3L, "after appendBatch" -> 11L, "warm" -> 17L)
    probes.foreach { case (when, id) =>
      if (when == "after appendBatch")
        VecStoreLog.appendBatch(emb.filter($"vec_id" >= 200 && $"vec_id" < 260), dir, 1L)
      val q = oneQuery(id)
      val (top, jobs) = jobsOf(
        VecStoreLog.probeTopK(spark, dir, q, VecStore.ProbeCells).collect())
      assert(top.length === 5, when)
      assert(jobs === 0, s"a one-query probe $when submitted $jobs jobs")
    }
  }

  test("a probe reads the codebook without an ignored-path warning") {
    val liveStore = java.nio.file.Files.createTempDirectory("vlog_warn_").toString + "/idx"
    VecStoreLog.appendBatch(emb.filter($"vec_id" < 200), liveStore, 0L)
    VecStoreLog.compact(spark, liveStore, Some(VecStore.CellK))
    VecStoreLog.appendBatch(emb.filter($"vec_id" >= 200 && $"vec_id" < 260), liveStore, 1L)
    val (_, warned) = warningsOf("org.apache.spark.sql.execution.datasources.DataSource") {
      VecStoreLog.probeTopK(spark, liveStore, oneQuery(5L), VecStore.ProbeCells).collect()
      VecStoreLog.probeTopK(spark, liveStore, oneQuery(5L).repartition(1),
        VecStore.ProbeCells).collect()
      StoreCheck.checkVecStoreLog(spark, liveStore)
    }
    assert(!warned.exists(_.contains("All paths were ignored")), warned.mkString("\n"))
  }
}
