package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The maintained IVF-PQ index ([[IvfPqLog]]): epoch landings + one
  * retraining fold must answer exactly like the inline build-once query
  * (training over identical corpora is deterministic), and a LIVE delta
  * must be retrievable mid-stream with EXACT distances — the fresh-vector
  * guarantee the brute leg buys before any codebook has seen the epoch. */
class IvfPqLogSpec extends SparkSpec {
  import spark.implicits._

  test("land→fold→probe ≡ the inline build-once IVF-PQ query") {
    val maintained = graft.SparkEntry.queries("ivfpq_maintained_probe")(spark, sf0001)
    val inline = graft.SparkEntry.queries("sim_ivfpq_topk")(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "label", "adc_dist", "l2_dist", "rank")
      .as[(Long, Long, Int, Long, Long, Int)].collect().toSeq.sorted
    assert(rows(maintained) === rows(inline),
      "epoch slicing + the maintenance machinery must not move answers")
  }

  test("mid-stream probe: live delta vectors are retrievable with exact distances") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_live_").toString + "/idx"
    val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))
    // committed generation: the whole corpus (two epochs, one fold)
    IvfPqLog.appendBatch(emb.filter(col("vec_id") % 2 === 0), dir, 0L)
    IvfPqLog.appendBatch(emb.filter(col("vec_id") % 2 === 1), dir, 1L)
    IvfPqLog.compact(spark, dir)
    // live epoch: exact duplicates of every query vector, ids shifted —
    // each query's nearest neighbor is now IN the unfolded delta
    val dups = emb.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"), col("label"),
        col("embedding"))
    IvfPqLog.appendBatch(dups, dir, 2L)

    val out = IvfPqLog.probeTopK(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val top1 = out.filter(col("rank") === 1)
        .select("query_id", "vec_id", "l2_dist")
        .as[(Long, Long, Long)].collect()
      assert(top1.nonEmpty)
      top1.foreach { case (q, v, l2) =>
        assert(l2 === 0L, s"query $q rank-1 must be an exact duplicate (got l2=$l2)")
        assert(v === q + 10000L || l2 === 0L,
          s"query $q rank-1 should be its planted duplicate or an exact twin")
      }
      // the planted duplicate itself is in the top-k at l2 = 0
      val planted = out.filter(col("vec_id") === col("query_id") + 10000L)
        .select("query_id", "l2_dist").as[(Long, Long)].collect()
      val queries = top1.map(_._1).toSet
      assert(planted.map(_._1).toSet === queries,
        "every query must retrieve its fresh duplicate from the live delta")
      assert(planted.forall(_._2 === 0L))
    } finally out.unpersist()

    // after the next fold the duplicates are IN the trained generation and
    // still retrieved (now through ADC + exact rerank)
    IvfPqLog.compact(spark, dir)
    val folded = IvfPqLog.probeTopK(spark, dir)
      .filter(col("vec_id") === col("query_id") + 10000L).count()
    assert(folded > 0L, "folded duplicates must remain retrievable")
  }

  test("erase rewrites only affected cells on BOTH trees; erased ids gone; replay no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_erase_").toString + "/idx"
    val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))
    IvfPqLog.appendBatch(emb, dir, 0L)
    IvfPqLog.compact(spark, dir)
    val gen = CubeLog.view(spark, dir).foldedDir.get.stripPrefix("file:")

    val req = Seq(0L, 37L, 74L, 111L, 148L)
    def cellsOf(ids: Seq[Long]): Set[Long] = {
      import spark.implicits._
      spark.read.parquet(s"$gen/codes").select(col("vec_id"), col("cell"))
        .filter(col("vec_id").isin(ids: _*))
        .select(col("cell").cast("long")).distinct().as[Long].collect().toSet
    }
    val affected = cellsOf(req)
    def snapshot(sub: String): Map[String, (Long, Long)] =
      new java.io.File(s"$gen/$sub").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${d.getName}/${f.getName}" -> (f.length(), f.lastModified())))
        .toMap
    val beforeCodes = snapshot("codes")
    val beforeVecs = snapshot("vectors")

    val removed = IvfPqLog.eraseByIds(spark, dir, req)
    assert(removed === req.size.toLong)
    Seq("codes", "vectors").foreach { sub =>
      assert(spark.read.parquet(s"$gen/$sub")
        .filter(col("vec_id").isin(req: _*)).count() === 0L,
        s"$sub must not hold erased ids")
      // untouched cell partitions are byte-identical (size AND mtime)
      val before = if (sub == "codes") beforeCodes else beforeVecs
      val after = snapshot(sub)
      before.foreach { case (file, meta) =>
        val cell = file.takeWhile(_ != '/').stripPrefix("cell=").toLong
        if (!affected.contains(cell))
          assert(after.get(file).contains(meta), s"untouched $sub/$file rewritten")
      }
    }
    // the store still answers, without the erased ids
    val out = IvfPqLog.probeTopK(spark, dir)
    assert(out.count() > 0L)
    assert(out.filter(col("vec_id").isin(req: _*)).count() === 0L)
    // replay: no hits, nothing rewritten
    assert(IvfPqLog.eraseByIds(spark, dir, req) === 0L)

    // the full fsck is clean after the erase (codes↔vectors referential
    // integrity both ways, orphan cells, norm drift)
    val findings = StoreCheck.checkIvfPqLog(spark, dir)
    assert(!findings.exists(_.severity == "error"), findings.mkString("; "))
  }

  test("sparse wire-composed ids: fold trains full codebooks and the store answers (the pq seeding regression)") {
    // the streaming wire's id space: vec_id = meter_id·10¹⁰ + seconds —
    // nothing below PqK=32, so the old `vec_id < PqK` sub-codebook
    // seeding trained ZERO centroids, every pqAssign join emptied, and
    // the fold committed a generation with _SUCCESS-only codes dirs (an
    // unreadable store). Seeding by RANK (the lloydCentroids doctrine)
    // must train full codebooks on ANY id space.
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_sparse_").toString + "/idx"
    val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
      .select(($"vec_id" * 10000000000L + 86400L).as("vec_id"), $"label", $"embedding")
    IvfPqLog.appendBatch(emb, dir, 0L)
    IvfPqLog.compact(spark, dir)
    val gen = CubeLog.view(spark, dir).foldedDir.get
    // full sub-codebooks: PqM subspaces × PqK centroids
    assert(spark.read.parquet(s"$gen/codes").count() === emb.count(),
      "every vector must be encoded — empty sub-codebooks empty the codes")
    val queries = VecStore.qn(emb.orderBy($"vec_id").limit(5)
      .select($"vec_id", $"label", $"embedding"))
      .select($"vec_id", $"qv", $"norm2")
    assert(IvfPqLog.probeTopK(spark, dir, Some(queries)).count() > 0L)
    assert(!StoreCheck.checkIvfPqLog(spark, dir).exists(_.severity == "error"))
  }

  test("empty epochs land nothing; an empty-input fold refuses to commit an unreadable generation") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_empty_").toString + "/idx"
    val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
      .select($"vec_id", $"label", $"embedding")
    // the VecStoreLog guard: an empty micro-batch lands NO epoch dir
    assert(IvfPqLog.appendBatch(emb.limit(0), dir, 0L) === 0L)
    assert(!new java.io.File(s"$dir/batch_id=0").exists())
    assert(CubeLog.view(spark, dir).liveBatches.isEmpty)
    // and even if empty state reached a fold, the codebook guard fails
    // BEFORE the commit marker — the store stays at its old generation
    // instead of committing _SUCCESS-only codes dirs
    IvfPqLog.appendBatch(emb, dir, 1L)
    IvfPqLog.compact(spark, dir)
    assert(IvfPqLog.probeTopK(spark, dir).count() > 0L)
  }

  test("compaction cadence: the derived trigger fires exactly at the boundary; auto landing folds") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_cadence_").toString + "/idx"
    val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))

    // the derived trigger is a real fraction at the pinned geometry:
    // strictly positive, and never looser than the budget-share floor s
    val sPinned = IvfPqLog.ProbeCells.toDouble / IvfPqLog.CoarseK
    val trigPinned = IvfPqLog.deltaTrigger()
    assert(trigPinned > 0.0 && trigPinned <= sPinned,
      s"trigger $trigPinned out of (0, $sPinned]")
    // capped regime: when the exact delta leg is cheap enough that the
    // probe-cost ratio can never exceed r, the budget-share floor holds
    assert(IvfPqLog.deltaTrigger(maxRatio = 1.3, costRatio = 0.1) === sPinned)

    // a store with no committed generation must fold on any live data —
    // it cannot answer probes until a first generation exists
    IvfPqLog.appendBatch(emb.filter(col("vec_id") % 2 === 0), dir, 0L)
    assert(IvfPqLog.shouldCompact(spark, dir))
    IvfPqLog.compact(spark, dir)
    assert(!IvfPqLog.shouldCompact(spark, dir), "no live epochs — nothing to fold")

    val gen = CubeLog.view(spark, dir).foldedDir.get
    val base = spark.read.parquet(s"$gen/codes").count()
    // the boundary is pinned at the GENERATION'S OWN geometry (r15): the
    // default fold derives k = coarseKFor(n), so the probed share — and
    // with it f* — comes from the committed generation, not the shipped
    // constants; the sidecar must record the derived count exactly
    val k = IvfPqLog.storedCoarseK(spark, gen)
    assert(k === IvfPqLog.coarseKFor(base),
      "the fold must train at the scale-derived coarse count")
    val sStore = IvfPqLog.probeCellsFor(k).toDouble / k
    val trig = IvfPqLog.deltaTrigger(probeShare = sStore)
    assert(trig > 0.0 && trig <= sStore)
    val boundary = math.ceil(base * trig).toLong
    assert(boundary >= 2L, "corpus too small to pin the boundary")

    // fresh ids (shifted out of the base range), deterministic slices
    val fresh = emb.select((col("vec_id") + 100000L).as("vec_id"),
      col("label"), col("embedding"))
    IvfPqLog.appendBatch(fresh.orderBy(col("vec_id")).limit((boundary - 1).toInt),
      dir, 1L)
    assert(!IvfPqLog.shouldCompact(spark, dir),
      s"delta ${boundary - 1} of base $base is UNDER the trigger $trig — no fold")

    // one more row reaches the boundary exactly; the auto landing must
    // land it AND fold, leaving a fresh generation with no live epochs
    assert(IvfPqLog.appendBatchAuto(
      fresh.orderBy(col("vec_id").desc).limit(1), dir, 2L),
      s"delta $boundary of base $base is AT the trigger — the auto landing folds")
    val v = CubeLog.view(spark, dir)
    assert(v.liveBatches.isEmpty && v.gen === 2L)
    assert(spark.read.parquet(s"${v.foldedDir.get}/codes").count() === base + boundary)
    // the retrained store still answers
    assert(IvfPqLog.probeTopK(spark, dir).count() > 0L)
  }

  test("scale-derived fold geometry: the √n/budget/shortlist rules; derived stores probe at their own k; fsck guards the sidecar") {
    // the sizing rules themselves (the VecStore.cellKFor analogues)
    assert(IvfPqLog.coarseKFor(0L) === IvfPqLog.CoarseK)
    assert(IvfPqLog.coarseKFor(64L) === IvfPqLog.CoarseK, "√n floored at the shipped k")
    assert(IvfPqLog.coarseKFor(10000L) === 100)
    assert(IvfPqLog.probeCellsFor(IvfPqLog.CoarseK) === IvfPqLog.ProbeCells,
      "at the pinned k the derived probe width IS the oracle's 3 (share preserved)")
    assert(IvfPqLog.probeCellsFor(100) === 25, "25%-of-cells budget at scale")
    assert(IvfPqLog.shortlistFor(IvfPqLog.ProbeCells) === 50,
      "at the pinned width the derived shortlist IS the oracle's 50")
    assert(IvfPqLog.shortlistFor(25) === math.ceil(25 * 50.0 / 3).toInt,
      "constant rerank depth per probed cell")

    // a DEFAULT fold trains at the derived geometry, records it in the
    // sidecar, and the probe self-configures from the generation — the
    // store answers with ≥ the planted-duplicate recall the pinned store
    // guarantees (each query's duplicate shares its cell, probed first)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_geo_").toString + "/idx"
    val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
      .select(col("vec_id"), col("label"), col("embedding"))
    val dups = emb.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 10000L).as("vec_id"), col("label"), col("embedding"))
    IvfPqLog.appendBatch(emb.unionByName(dups), dir, 0L)
    IvfPqLog.compact(spark, dir) // derived: k = coarseKFor(n) > CoarseK here
    val gen = CubeLog.view(spark, dir).foldedDir.get
    val n = spark.read.parquet(s"$gen/codes").count()
    val k = IvfPqLog.storedCoarseK(spark, gen)
    assert(k === IvfPqLog.coarseKFor(n) && k > IvfPqLog.CoarseK,
      s"sf0.001 corpus ($n rows) must derive k=√n > the shipped floor (got $k)")
    assert(spark.read.parquet(s"$gen/cells").count() === k.toLong,
      "the sidecar must record the trained cell count exactly")
    val planted = IvfPqLog.probeTopK(spark, dir)
      .filter(col("vec_id") === col("query_id") + 10000L)
      .filter(col("l2_dist") === 0L)
    assert(planted.count() > 0L,
      "a derived-geometry store must retrieve exact duplicates through ADC+rerank")
    assert(!StoreCheck.checkIvfPqLog(spark, dir).exists(_.severity == "error"))

    // a sidecar disagreeing with the trained cells is a loud fsck error —
    // the probe derives its width from it
    val ckPath = new org.apache.hadoop.fs.Path(
      gen.stripPrefix("file:"), "_ck")
    val hfs = ckPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(ckPath, true)
    try out.write("4".getBytes("UTF-8")) finally out.close()
    val findings = StoreCheck.checkIvfPqLog(spark, dir)
    assert(findings.exists(f => f.severity == "error" && f.check == "coarse-k-mismatch"),
      findings.mkString("; "))
  }

  test("the _ck sidecar records the coarse cells the fold trained, not the k it asked for") {
    // 40 vectors with only 3 distinct embeddings: the 8 Lloyd seeds
    // collapse onto 3 points, ties go to the smallest centroid id, and
    // the other 5 cells end the first round empty and drop out
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_ck_").toString + "/idx"
    val emb = (0 until 40).map { i =>
      val c = i % 3
      (i.toLong, c, Array.tabulate(64)(j => (((c * 7 + j * 13) % 11) - 5) / 5.0f))
    }.toDF("vec_id", "label", "embedding")
    IvfPqLog.appendBatch(emb, dir, 0L)
    IvfPqLog.compact(spark, dir, coarseK = Some(8))
    val gen = CubeLog.view(spark, dir).foldedDir.get
    val trained = spark.read.parquet(s"$gen/cells").count()
    assert(trained < 8L, s"the fixture must make Lloyd drop cells (trained $trained)")
    assert(IvfPqLog.storedCoarseK(spark, gen).toLong === trained)
    val findings = StoreCheck.checkIvfPqLog(spark, dir)
    assert(!findings.exists(_.check == "coarse-k-mismatch"), findings.mkString("; "))
  }
}
