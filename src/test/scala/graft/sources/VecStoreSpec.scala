package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Trained-IVF cell-partitioned ANN index: probes prune to their cell
  * directories, appends ride the stored codebook without retraining, and
  * the shipped probe's RETRIEVAL QUALITY meets a measured floor — not
  * just its own semantics (the r7 sign-LSH layout was hash-green at
  * recall@5 0.13; the re-layout exists to fix that). */
class VecStoreSpec extends SparkSpec {
  import spark.implicits._

  test("probe reads only its cell partition, agrees with a full scan, and appends are additive") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("vecstore").toString
    VecStore.build(emb.filter($"vec_id" < 400), dir)

    // the codebook is stored beside the index (hidden from the index's own
    // parquet discovery by the underscore prefix)
    val cents = VecStore.codebook(spark, dir)
    assert(cents.cids.length <= 16 && cents.cids.length >= 2)

    // pick the most occupied cell deterministically (partition-column
    // inference reads cell= back as int — normalize to long)
    val cell = spark.read.parquet(dir)
      .groupBy("cell").count().orderBy($"count".desc, $"cell")
      .head.getAs[Number]("cell").longValue()

    val probed = VecStore.probe(spark, dir, cell)
    // 1) partition pruning: every file the probe touches is in cell=K/
    val files = probed.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains(s"cell=$cell")),
      s"probe leaked outside cell=$cell: ${files.filterNot(_.contains(s"cell=$cell")).take(3).mkString}")
    // and the plan prunes at the partition level, not post-scan
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      "expected the cell filter to bind as a PartitionFilter")

    // 2) the probe equals filtering a full scan
    val full = spark.read.parquet(dir).filter($"cell" === cell)
      .select("vec_id").as[Long].collect().toSet
    assert(probed.select("vec_id").as[Long].collect().toSet == full)

    // 3) additive append THROUGH THE STORED CODEBOOK (no retrain):
    // existing files untouched, new rows visible, codebook unchanged
    def entries(book: VecStore.Codebook) = book.cids.toSeq.zip(book.cqvs.map(_.toSeq))
    val centsBefore = entries(cents)
    val before = spark.read.parquet(dir).select(input_file_name()).distinct()
      .as[String].collect().toSet
    VecStore.append(emb.filter($"vec_id" >= 400), dir)
    val after = spark.read.parquet(dir).select(input_file_name()).distinct()
      .as[String].collect().toSet
    assert(before.subsetOf(after), "append must not rewrite existing files")
    assert(spark.read.parquet(dir).count() == emb.count())
    assert(entries(VecStore.codebook(spark, dir)) == centsBefore,
      "append must not retrain the codebook")
  }

  test("probe recall@5 vs brute-force ground truth at sf0.1: >= 0.5 at <= 25% corpus probed") {
    // Retrieval-quality evidence for the on-disk index. This corpus's true
    // top-5 neighbors sit at cosine 0.32-0.49 — the regime where sign-LSH
    // buckets measured 0.01-0.13 recall@5 (r7 layout, curve in
    // SCALING.md). Trained cells follow the data's cluster structure:
    // probing the top 4 of 16 Lloyd cells must reach recall@5 >= 0.5
    // while touching <= 25% of the corpus on average (n_cands is the
    // probe's own candidate accounting, so the fraction is measured from
    // the result itself, not assumed from cell counts).
    val sf01 = "/root/testdata/sf0.1"
    val out = graft.SparkEntry.queries("vecstore_probe_topk")(spark, sf01).cache()
    try {
      val probe = out.select($"query_id".cast("long"), $"vec_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      val truth = graft.SparkEntry.queries("sim_bruteforce_topk")(spark, sf01)
        .filter($"rank" <= 5)
        .select($"query_id".cast("long"), $"vec_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(truth.size === 200, "40 queries x top-5 expected")
      val recall = (probe & truth).size.toDouble / truth.size
      val corpusN = spark.read.parquet(s"$sf01/embeddings.parquet").count()
      val meanCands = out.select($"query_id", $"n_cands").distinct()
        .agg(avg($"n_cands")).head.getDouble(0)
      // candidates touched over corpus size (the self-row a query skips in
      // its own cell makes this an undercount of at most 1/N)
      val probedFrac = meanCands / corpusN
      info(f"recall@5 $recall%.3f, mean probed fraction $probedFrac%.3f")
      assert(probedFrac <= 0.25, f"probed fraction $probedFrac%.3f exceeds the 25%% budget")
      assert(recall >= 0.5, f"recall@5 $recall%.3f fell below the 0.5 floor")
    } finally out.unpersist()
  }

  test("scale-aware sizing (k≈√n, ≤25% cells probed) meets the recall floor through the library API") {
    // The shipped registered query fixes k=16 (its DuckDB oracle trains
    // the identical chain); a real build derives k from corpus size. The
    // √n rule is measured, not assumed: at sf0.1 (n=2000 → k=45, probe
    // 11) recall@5 is 0.625 at 24.4% probed, and one decade up (a
    // synthetic sf1, n=20000 → k=141, probe 35) it RISES to 0.727 at
    // 24.8% — while k frozen at 16 degrades to 0.547 at the same budget
    // (SCALING.md r9 rows, a frozen record). This test pins the sf0.1
    // point end-to-end through build(cellKFor)/probeTopK(probeCellsFor).
    val sf01 = "/root/testdata/sf0.1"
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val n = emb.count()
    val cellK = VecStore.cellKFor(n)
    val probeCells = VecStore.probeCellsFor(cellK)
    assert(cellK === 45 && probeCells === 11, "√n rule at n=2000")
    assert(probeCells.toDouble / cellK <= 0.25, "probe budget by cell count")
    val dir = java.nio.file.Files.createTempDirectory("vecstore-scaled").toString
    VecStore.build(emb, dir, cellK)
    val queries = emb.filter($"vec_id" % 50 === 0).select($"vec_id", $"embedding")
    val out = VecStore.probeTopK(spark, dir, queries, probeCells).cache()
    try {
      val probe = out.select($"query_id".cast("long"), $"vec_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      val truth = graft.SparkEntry.queries("sim_bruteforce_topk")(spark, sf01)
        .filter($"rank" <= 5)
        .select($"query_id".cast("long"), $"vec_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      val recall = (probe & truth).size.toDouble / truth.size
      val meanCands = out.select($"query_id", $"n_cands").distinct()
        .agg(avg($"n_cands")).head.getDouble(0)
      val probedFrac = meanCands / n
      info(f"derived k=$cellK%d probe=$probeCells%d: recall@5 $recall%.3f, probed $probedFrac%.3f")
      assert(probedFrac <= 0.25, f"probed fraction $probedFrac%.3f exceeds the 25%% budget")
      assert(recall >= 0.5, f"recall@5 $recall%.3f fell below the 0.5 floor")
    } finally out.unpersist()
  }

  test("driver-side cellOf matches the stored assignment (quantization + tie discipline)") {
    // the helper mirrors SQL round() (HALF_UP away from zero) and the
    // ties-to-smallest-c_id ranking; agreement is checked against real
    // stored rows so any rounding or tie divergence surfaces
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("vecstore-cellof").toString
    VecStore.build(emb, dir)
    val book = VecStore.codebook(spark, dir)
    val cents = book.cids.toSeq.zip(book.cqvs.map(_.toSeq))
    val stored = spark.read.parquet(dir)
      .filter($"vec_id" < 25)
      .select($"vec_id", $"embedding", $"cell".cast("long"))
      .as[(Long, Seq[Float], Long)].collect()
    assert(stored.length === 25)
    stored.foreach { case (id, vec, cell) =>
      assert(VecStore.cellOf(vec, cents) === cell, s"vec_id $id")
    }
  }
}
