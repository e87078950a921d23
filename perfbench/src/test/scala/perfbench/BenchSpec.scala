package perfbench

import graft.sources.{IvfPqLog, StoreCheck}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tiny-size smoke tests of each workload, a traced run's per-layer
  * figures, the negative case (a corrupted mart trips its gate) and the
  * engine defect that keeps the IVF-PQ fold out of `corpus_rtbf`. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val workDir = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
  // the traced-run session: the counting file system records only while a tracer is active
  private lazy val spark = Main.session(workDir, traced = true)

  private def ctx(name: String, seconds: Double, traced: Boolean = false): Ctx =
    new Ctx(spark, s"$workDir/$name", 7L, seconds,
      if (traced) Some(new Tracer(spark.sparkContext)) else None, System.currentTimeMillis())

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))

  private def cleanup(c: Ctx): Unit = {
    c.tracer.foreach(_.setActive(false))
    c.roots.foreach(r => deleteTree(java.nio.file.Paths.get(r)))
  }

  override def afterAll(): Unit = {
    spark.stop()
    deleteTree(java.nio.file.Paths.get(workDir))
  }

  private def finite(fs: Seq[Figure]): Unit =
    fs.foreach(f => assert(!f.value.isNaN && f.value > 0 && f.n > 0, f))

  test("meter_batch: tiny full refreshes pass their gates, traced and untraced") {
    val c = ctx("batch", 0, traced = true)
    val w = new MeterBatch(c, 20, 96, 5)
    try {
      Main.run(c, w)
      // a traced run alternates traced and untraced refreshes to measure the overhead
      assert(c.correct && c.attempted == 3 && c.tracingOverhead.nonEmpty, c.failures)
      finite(w.endToEnd)
      val figs = c.tracer.get.figures(w.spans)
      w.spans.foreach { s =>
        assert(figs(s).s > 0 && figs(s).jobs > 0 && figs(s).tasks > 0, s -> figs(s))
      }
      assert(figs("gen_bronze").fsMetaOps > 0 && figs("mart_billing").shuffleMb > 0, figs)
    } finally cleanup(c)
  }

  test("meter_stream: in-order batches and a re-delivery pass their gates") {
    val c = ctx("stream", 0)
    val w = new MeterStream(c, 20, 8, 2)
    try {
      w.setup()
      c.markTimedStart()
      (0 until 3).foreach(_ => assert(w.step()))
      c.verifyGate(w.verify())
      assert(c.correct && c.attempted == 3, c.failures)
      finite(w.endToEnd)
      assert(w.report.map(f => f.name -> f.n).toMap ==
        Map("stream_rows_per_s" -> 2, "stream_commit_p50_ms" -> 2, "stream_replay_p50_ms" -> 1))
    } finally { w.close(); cleanup(c) }
  }

  test("meter_stream: a corrupted billing mart trips the verify gate") {
    val c = ctx("corrupt", 0)
    val w = new MeterStream(c, 20, 8, 2)
    try {
      w.setup()
      val mart = c.roots.find(_.endsWith("stream_mart_billing")).get
      val bad = spark.read.parquet(mart)
        .withColumn("total_consumption_kwh", col("total_consumption_kwh") + 0.001)
        .localCheckpoint(eager = true)
      bad.write.mode("overwrite").partitionBy("billing_date").parquet(mart)
      c.verifyGate(w.verify())
      assert(!c.correct && c.failed == 1)
      assert(c.failures.head.contains("billing mart differs from a full recompute"), c.failures)
    } finally { w.close(); cleanup(c) }
  }

  test("corpus_rtbf: land, searches and erase pass their gates") {
    val c = ctx("corpus", 0)
    val w = new CorpusRtbfLoad(c, 60, 4, 2, 2)
    try {
      Main.run(c, w)
      assert(c.correct && c.attempted == 4, c.failures)
      finite(w.endToEnd)
      assert(c.roots.size == 5)
    } finally cleanup(c)
  }

  test("IvfPqLog.compact records the coarse cells it trained") {
    // on this seed's first epoch k-means trains 15 of the 16 cells the fold
    // asks for, and the `_ck` sidecar records 16: a known engine defect.
    // `corpus_rtbf` leaves the IVF-PQ fold out; when this stops failing,
    // drop `pendingUntilFixed` and put the fold back
    pendingUntilFixed(ivfPqFoldRecordsTrainedCells())
  }

  private def ivfPqFoldRecordsTrainedCells(): Unit = {
    val s = spark
    import s.implicits._
    val dir = s"$workDir/ivfpq-ck"
    val corpus = CorpusRtbfLoad.Corpus(1596663654L, 500)
    try {
      IvfPqLog.appendBatch((0 until 250).map(i => (i.toLong, corpus.labels(i), corpus.vectors(i)))
        .toDF("vec_id", "label", "embedding"), dir, 0L)
      IvfPqLog.compact(spark, dir)
      val findings = StoreCheck.checkIvfPqLog(spark, dir)
      assert(!findings.exists(_.check == "coarse-k-mismatch"), findings)
    } finally deleteTree(java.nio.file.Paths.get(dir))
  }

  test("the seeded corpus is reproducible and free of exact duplicates") {
    val a = CorpusRtbfLoad.Corpus(3L, 200)
    val b = CorpusRtbfLoad.Corpus(3L, 200)
    assert(a.texts == b.texts && a.vectors.map(_.toSeq) == b.vectors.map(_.toSeq))
    assert(a.texts.distinct.size == 200)
    assert(CorpusRtbfLoad.Corpus(4L, 200).texts != a.texts)
  }

  test("quantiles interpolate linearly") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }
}
