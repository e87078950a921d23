package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Online corpus curation ([[DocStream.curate]]): the streamed result must
  * equal the batch policy+dedup over the same documents, redeliveries
  * inside the watermark horizon must be absorbed, and a re-crawl AFTER the
  * horizon must be re-admitted (bounded state, not corpus-lifetime state). */
class DocStreamSpec extends SparkSpec {

  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  test("streamed curation equals batch policy+dedup over the corpus") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    // real corpus rows with synthetic arrival times (1 s apart, doc order)
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        new java.sql.Timestamp(t("2026-01-01 00:00:00").getTime + r.getAs[Long]("doc_id") * 1000),
        r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[String]("text")))
      .sortBy(_._1)

    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val curated = DocStream.curate(
      mem.toDF().toDF("doc_id", "event_time", "lang", "source", "text"))
    val q = curated.writeStream.format("memory").queryName("doc_curated")
      .outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      mem.addData(b1.take(20).toSeq) // at-least-once redelivery, same event times
      mem.addData(b2.toSeq)
      q.processAllAvailable()

      val streamedHashes = spark.table("doc_curated")
        .select("content_hash").as[String].collect().toSeq

      // batch expectation: distinct content hash among policy-passing docs
      val batchHashes = graft.ops.Tables.documents(spark, sf0001)
        .filter(graft.llm.TextPolicy.gopher(col("text")).pass)
        .select(md5(col("text")).as("h")).distinct()
        .as[String].collect().toSeq

      assert(streamedHashes.sorted === streamedHashes.distinct.sorted,
        "streamed output contains duplicate content")
      assert(streamedHashes.toSet === batchHashes.toSet)
    } finally q.stop()
  }

  test("duplicate inside the horizon is absorbed; re-crawl after the horizon is re-admitted") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // text passes every Gopher rule: >=50 words, stopwords present, all
    // words purely alphabetic (digits would fail the alpha-fraction rule)
    def w(prefix: String, i: Int) =
      prefix + ('a' + i % 26).toChar + ('a' + i / 26 % 26).toChar
    val text = (1 to 30).flatMap(i => Seq("the", w("word", i))).mkString(" ")

    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val q = DocStream.curate(
      mem.toDF().toDF("doc_id", "event_time", "lang", "source", "text"),
      watermark = "10 minutes")
      .writeStream.format("memory").queryName("doc_horizon")
      .outputMode("append").start()
    try {
      mem.addData((1L, t("2026-01-01 00:00:00"), "en", "src0", text))
      q.processAllAvailable()
      // duplicate 1 min later: inside the horizon → absorbed
      mem.addData((2L, t("2026-01-01 00:01:00"), "en", "src0", text))
      q.processAllAvailable()
      // push the watermark far past the horizon with a different doc
      val other = (1 to 30).flatMap(i => Seq("a", w("other", i))).mkString(" ")
      mem.addData((3L, t("2026-01-01 02:00:00"), "en", "src0", other))
      q.processAllAvailable()
      // re-crawl of the same content, new event time, after the horizon
      mem.addData((4L, t("2026-01-01 02:01:00"), "en", "src0", text))
      q.processAllAvailable()

      val hashes = spark.table("doc_horizon")
        .select("content_hash").as[String].collect().toSeq
      val textHash = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(hashes.count(_ == textHash) === 2,
        s"expected in-horizon dup absorbed and post-horizon re-crawl admitted; got $hashes")
    } finally q.stop()
  }

  test("curate exposes per-batch dedup/policy drop counters via observe") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def w(prefix: String, i: Int) =
      prefix + ('a' + i % 26).toChar + ('a' + i / 26 % 26).toChar
    val good = (1 to 30).flatMap(i => Seq("the", w("word", i))).mkString(" ")

    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val q = DocStream.curate(
      mem.toDF().toDF("doc_id", "event_time", "lang", "source", "text"))
      .writeStream.format("memory").queryName("doc_observed")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, t("2026-01-01 00:00:00"), "en", "s", good),
        (2L, t("2026-01-01 00:00:30"), "en", "s", good), // dedup victim
        (3L, t("2026-01-01 00:01:00"), "en", "s", "too short")) // policy victim
      q.processAllAvailable()
      // lastProgress may be a watermark-advance empty batch: total the
      // counters across every progress event of the run instead
      val ms = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("curate")))
      assert(ms.nonEmpty, "no observed metrics on any progress")
      assert(ms.map(_.getAs[Long]("n_after_dedup")).sum === 2L)
      assert(ms.map(_.getAs[Long]("n_policy_dropped")).sum === 1L)
    } finally q.stop()
  }

  test("curate + DocStore compose into history-wide exactly-once landing") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("curated").toString
    def w(prefix: String, i: Int) =
      prefix + ('a' + i % 26).toChar + ('a' + i / 26 % 26).toChar
    val text = (1 to 30).flatMap(i => Seq("the", w("word", i))).mkString(" ")
    val other = (1 to 30).flatMap(i => Seq("a", w("other", i))).mkString(" ")

    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    // data BEFORE start: AvailableNow snapshots the available offsets at
    // query start — adding afterwards races the snapshot
    mem.addData(
      (1L, t("2026-01-01 00:00:00"), "en", "s", text),
      (2L, t("2026-01-01 00:01:00"), "en", "s", text), // in-horizon dup
      (3L, t("2026-01-01 02:00:00"), "en", "s", other))
    val q = DocStream.startCuratedIngest(
      mem.toDF().toDF("doc_id", "event_time", "lang", "source", "text"),
      s"$dir/store", s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), "10 minutes")
    try assert(q.awaitTermination(120000), "run 1 did not terminate")
    finally q.stop()

    // post-horizon re-crawl in a NEW run (fresh stream state): the
    // watermark layer re-admits it; the history index must still drop it
    val mem2 = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    mem2.addData((10L, t("2026-01-02 00:00:00"), "en", "s", text))
    val q2 = DocStream.startCuratedIngest(
      mem2.toDF().toDF("doc_id", "event_time", "lang", "source", "text"),
      s"$dir/store", s"$dir/ckpt2",
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), "10 minutes")
    try assert(q2.awaitTermination(120000), "run 2 did not terminate")
    finally q2.stop()

    val landed = spark.read.parquet(s"$dir/store/docs")
    assert(landed.count() === 2L, "exactly one copy of each distinct passing text")
    assert(landed.select(countDistinct(col("content_hash"))).head.getLong(0) === 2L)
    assert(landed.filter(col("text") === text).select("doc_id").head.getLong(0) === 1L)
  }

  test("trending tokens: closed windows equal the batch windowed count, open windows withheld") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val rows = Seq(
      (1L, t("2026-01-01 00:05:00"), "en", "s", "spark spark flink"),
      (2L, t("2026-01-01 00:20:00"), "en", "s", "spark beam"),
      (3L, t("2026-01-01 00:40:00"), "en", "s", "spark flink flink"),
      // next hour: arrives later, advances the watermark past hour 0
      (4L, t("2026-01-01 02:00:00"), "en", "s", "quiet words here"))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val trending = DocStream.trendingTokens(
      mem.toDF().toDF("doc_id", "event_time", "lang", "source", "text"),
      windowLen = "1 hour", watermark = "10 minutes", minCount = 3L)
    val q = trending.writeStream.format("memory").queryName("trend_out")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3))
      q.processAllAvailable()
      // hour-0 window still open (watermark at 00:30) — nothing emitted
      assert(spark.table("trend_out").count() == 0)

      mem.addData(rows.drop(3))
      q.processAllAvailable()
      val got = spark.table("trend_out")
        .select("token", "n").as[(String, Long)].collect().toSet
      // batch expectation over hour 0: spark=4, flink=3, beam=1(<3)
      assert(got == Set(("spark", 4L), ("flink", 3L)))
      // hour-2 window is still open — its tokens are withheld
      assert(!spark.table("trend_out").as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)]
        .collect().exists(_._1.after(t("2026-01-01 01:00:00"))))
    } finally q.stop()
  }

  test("indexed ingest: bronze, posting index, and dedup state maintained from ONE landing; redelivery lands nothing") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("indexed_ingest").toString
    val terms = Seq("data", "join", "scan")

    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        new java.sql.Timestamp(t("2026-01-01 00:00:00").getTime + r.getAs[Long]("doc_id") * 1000),
        r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[String]("text")))
      .sortBy(_._1)

    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val q = DocStream.startIndexedIngest(
      mem.toDF().toDF("doc_id", "event_time", "lang", "source", "text"),
      s"$dir/store", s"$dir/postings", s"$dir/dedup", s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      mem.addData(b1.toSeq); q.processAllAvailable()
      mem.addData(b1.take(30).toSeq); q.processAllAvailable() // redelivery
      mem.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()

    val bronze = spark.read.parquet(s"$dir/store/docs")
      .select(col("doc_id"), col("text")).localCheckpoint(eager = true)

    // the posting index answers for EXACTLY the landed bronze
    val viaIndex = graft.sources.PostingLog
      .booleanAnd(spark, s"$dir/postings", terms)
      .as[(Long, Long)].collect().toSet
    val direct = bronze
      .select(col("doc_id"), explode(graft.llm.TextAnalysis.words(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*)).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") === terms.size)
      .as[(Long, Long)].collect().toSet
    assert(viaIndex === direct)
    assert(viaIndex.nonEmpty, "the term set must match some landed docs")
    // maintained BM25 globals equal the bronze's truth (additive across epochs)
    val stats = graft.sources.PostingLog.stats(spark, s"$dir/postings")
      .as[(Long, Long)].head()
    val truth = bronze
      .select(size(graft.llm.TextAnalysis.words(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).as[(Long, Long)].head()
    assert(stats === truth)

    // the dedup state equals a batch-built store over the same bronze
    val batchDir = java.nio.file.Files.createTempDirectory("indexed_batch").toString + "/st"
    graft.llm.DedupLog.appendEpoch(bronze, batchDir, 0L)
    val fromStream = graft.llm.DedupLog.labelsView(spark, s"$dir/dedup")
      .as[(Long, Long)].collect().toSet
    val fromBatch = graft.llm.DedupLog.labelsView(spark, batchDir)
      .as[(Long, Long)].collect().toSet
    assert(fromStream === fromBatch)
    assert(fromStream.nonEmpty, "the corpus must contain near-dup clusters")

    // the redelivered batch landed NOTHING anywhere: every bronze doc_id is
    // unique and the dedup store holds exactly one signature per bronze doc
    assert(bronze.select(countDistinct(col("doc_id"))).head.getLong(0) === bronze.count())
    assert(graft.llm.DedupLog.sigsAll(spark, s"$dir/dedup").count() === bronze.count())
  }

  test("retry after the bronze committed still lands the derived stores (landedSlice repair)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("retry_repair").toString
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).limit(200)

    // the foreachBatch body, factored as the stream runs it
    def body(batch: org.apache.spark.sql.DataFrame, batchId: Long,
        landDerived: Boolean): Unit =
      graft.sources.DocStore
        .appendDedupedLanded(spark, batch, s"$dir/store", batchId)
        .orElse(graft.sources.DocStore.landedSlice(spark, s"$dir/store", batchId))
        .foreach { landed =>
          if (landDerived) {
            graft.sources.PostingLog.appendBatchAuto(landed, s"$dir/postings", batchId)
            graft.llm.DedupLog.appendEpochAuto(landed, s"$dir/dedup", batchId)
          }
        }

    // batch 0: bronze commits, then the process "crashes" BEFORE the
    // derived landings (landDerived = false)
    body(docs, 0L, landDerived = false)
    assert(spark.read.parquet(s"$dir/store/docs").count() > 0)
    assert(!new java.io.File(s"$dir/postings").exists())

    // the foreachBatch retry: appendDedupedLanded now returns None (the
    // batch's hashes are in the index) — landedSlice must recover the rows
    body(docs, 0L, landDerived = true)
    val bronze = spark.read.parquet(s"$dir/store/docs").select($"doc_id", $"text")
    val (n, dl) = graft.sources.PostingLog.stats(spark, s"$dir/postings")
      .as[(Long, Long)].head()
    assert(n === bronze.count(), "every bronze doc must be indexed after the retry")
    assert(graft.llm.DedupLog.sigsAll(spark, s"$dir/dedup").count() === bronze.count())

    // a batch that genuinely lands nothing (all dup content, new id) must
    // NOT trigger the repair path or touch the derived stores
    body(docs, 5L, landDerived = true)
    assert(graft.sources.PostingLog.stats(spark, s"$dir/postings")
      .as[(Long, Long)].head()._1 === n)
  }

  test("chunked indexed ingest: stream-built chunked stores ≡ batch-built; retention = directory drops on the streamed corpus") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("indexed_chunked").toString
    val terms = Seq("data", "join", "scan")

    // three crawl DAYS by doc_id mod 3, fed day by day (event times stay
    // monotone across micro-batches, so the watermark never drops a day)
    val docs = graft.ops.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map { r =>
        val id = r.getAs[Long]("doc_id")
        (id, new java.sql.Timestamp(
          t("2026-01-01 00:00:00").getTime + (id % 3) * 86400000L + id * 1000),
          r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[String]("text"))
      }
    val byDay = docs.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.sortBy(_._1))

    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val q = DocStream.startIndexedIngest(
      mem.toDF().toDF("doc_id", "event_time", "lang", "source", "text")
        .withColumn("crawl_date", to_date(col("event_time"))),
      s"$dir/store", s"$dir/postings", s"$dir/dedup", s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      byDay.foreach { day => mem.addData(day.toSeq); q.processAllAvailable() }
      // redelivery of the last day: at-least-once, nothing may re-land
      mem.addData(byDay.last.take(20).toSeq); q.processAllAvailable()
    } finally q.stop()

    def bronzeNow() = spark.read.parquet(s"$dir/store/docs")
      .select(col("doc_id"), col("text")).localCheckpoint(eager = true)
    def directTruth(b: org.apache.spark.sql.DataFrame) = b
      .select(col("doc_id"), explode(graft.llm.TextAnalysis.words(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*)).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") === terms.size)
      .as[(Long, Long)].collect().toSet

    val bronze = bronzeNow()
    assert(bronze.select(countDistinct(col("doc_id"))).head.getLong(0) === bronze.count())
    // the streamed bronze carries the retention axis: one chunk per day
    val days = spark.read.parquet(s"$dir/store/docs")
      .select(col("chunk_date").cast("string")).distinct().as[String].collect().toSet
    assert(days === Set("2026-01-01", "2026-01-02", "2026-01-03"))

    // stream-built chunked posting store ≡ a batch-built chunked store
    // over the same landed corpus (one epoch, same layout)
    val batchPost = java.nio.file.Files.createTempDirectory("chunked_batch_post").toString + "/idx"
    graft.sources.PostingLog.appendBatch(
      spark.read.parquet(s"$dir/store/docs")
        .select(col("doc_id"), col("text"), col("chunk_date").as("crawl_date")),
      batchPost, 0L)
    assert(graft.sources.PostingLog.booleanAnd(spark, s"$dir/postings", terms)
      .as[(Long, Long)].collect().toSet ===
      graft.sources.PostingLog.booleanAnd(spark, batchPost, terms)
        .as[(Long, Long)].collect().toSet)
    assert(graft.sources.PostingLog.stats(spark, s"$dir/postings")
      .as[(Long, Long)].head() ===
      graft.sources.PostingLog.stats(spark, batchPost).as[(Long, Long)].head())
    assert(graft.sources.PostingLog.booleanAnd(spark, s"$dir/postings", terms)
      .as[(Long, Long)].collect().toSet === directTruth(bronze))

    // dedup labels ≡ a batch-built store over the same bronze
    val batchDedup = java.nio.file.Files.createTempDirectory("chunked_batch_dedup").toString + "/st"
    graft.llm.DedupLog.appendEpoch(bronze, batchDedup, 0L)
    assert(graft.llm.DedupLog.labelsView(spark, s"$dir/dedup")
      .as[(Long, Long)].collect().toSet ===
      graft.llm.DedupLog.labelsView(spark, batchDedup).as[(Long, Long)].collect().toSet)

    // retention on the STREAMED corpus: one cutoff, three surfaces, all
    // driver-side directory drops; every surface answers the survivor truth
    graft.sources.DocStore.expireBefore(spark, s"$dir/store", "2026-01-02")
    graft.sources.PostingLog.expireBefore(spark, s"$dir/postings", "2026-01-02")
    graft.llm.DedupLog.expireBefore(spark, s"$dir/dedup", "2026-01-02")
    val surv = bronzeNow()
    assert(surv.filter(pmod(col("doc_id"), lit(3L)) === 0L).count() === 0L)
    assert(graft.sources.PostingLog.booleanAnd(spark, s"$dir/postings", terms)
      .as[(Long, Long)].collect().toSet === directTruth(surv))
    val survDedup = java.nio.file.Files.createTempDirectory("chunked_surv_dedup").toString + "/st"
    graft.llm.DedupLog.appendEpoch(surv, survDedup, 0L)
    assert(graft.llm.DedupLog.labelsView(spark, s"$dir/dedup")
      .as[(Long, Long)].collect().toSet ===
      graft.llm.DedupLog.labelsView(spark, survDedup).as[(Long, Long)].collect().toSet)
    Seq(graft.sources.StoreCheck.checkPostingLog(spark, s"$dir/postings"),
      graft.sources.StoreCheck.checkDedupLog(spark, s"$dir/dedup")).foreach { f =>
      assert(!f.exists(_.severity == "error"), f.mkString("; "))
    }
  }

  test("erase-everywhere lands mid-stream: later epochs compose, re-crawled content re-lands, final state ≡ batch truth") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("erase_midstream").toString
    val terms = Seq("data", "join", "scan")

    val all = graft.ops.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        new java.sql.Timestamp(t("2026-01-01 00:00:00").getTime + r.getAs[Long]("doc_id") * 1000),
        r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[String]("text")))
      .sortBy(_._1)
    val (b1, b2) = all.splitAt(all.length / 2)
    val recrawlId = all.map(_._1).max + 1000L

    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val q = DocStream.startIndexedIngest(
      mem.toDF().toDF("doc_id", "event_time", "lang", "source", "text"),
      s"$dir/store", s"$dir/postings", s"$dir/dedup", s"$dir/ckpt",
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      mem.addData(b1.toSeq); q.processAllAvailable()

      // the deletion request arrives WHILE the stream is live: the two
      // side vector stores (the other surfaces of the orchestrated
      // request) are tiny builds beside the text stores
      val emb = graft.ops.Tables.embeddingsParallel(spark, sf0001)
        .select($"vec_id", $"label", $"embedding")
      graft.sources.VecStoreLog.appendBatch(emb, s"$dir/vec", 0L)
      graft.sources.VecStoreLog.compact(spark, s"$dir/vec",
        cellK = Some(graft.sources.VecStore.CellK))
      graft.sources.IvfPqLog.appendBatch(emb, s"$dir/ivfpq", 0L)
      graft.sources.IvfPqLog.compact(spark, s"$dir/ivfpq")
      val landed1 = spark.read.parquet(s"$dir/store/docs")
        .select($"doc_id").as[Long].collect().toSet
      val b1Max = b1.map(_._1).max
      val ids = (0L to b1Max by 37L).toSeq
      val receipt = graft.sources.CorpusRtbf.eraseEverywhere(spark, ids,
        s"$dir/store", s"$dir/postings", s"$dir/dedup", s"$dir/vec", s"$dir/ivfpq")
      assert(receipt("bronze_docs") === ids.count(landed1).toLong)

      // pick an ERASED doc whose text is globally unique (a corpus twin
      // would suppress the re-crawl through ordinary dedup, which is not
      // what this test measures)
      val uniqueTexts = all.groupBy(_._5).filter(_._2.length == 1).keySet
      val goneText = b1.find(d => d._1 % 37 == 0 && landed1(d._1) &&
        uniqueTexts(d._5)).get._5
      val maxId = all.map(_._1).max

      // the stream keeps landing AFTER the erase; one far-future doc
      // advances the watermark so b1's hashes age out of the BOUNDED
      // streaming dedup state — beyond the horizon, the hash INDEX is
      // what decides a re-crawl, and the erase just removed the hash
      val pusher = (maxId + 500L,
        new java.sql.Timestamp(t("2026-01-01 12:00:00").getTime),
        "en", "pusher", b1.find(d => uniqueTexts(d._5) && d._1 % 37 != 0).get._5)
      mem.addData(b2.toSeq :+ pusher); q.processAllAvailable()

      // the re-crawl of ERASED content, past the horizon: erasure removed
      // its suppression state, so it must re-land as a NEW document
      val recrawl = (recrawlId,
        new java.sql.Timestamp(t("2026-01-01 12:30:00").getTime),
        "en", "recrawl", goneText)
      mem.addData(Seq(recrawl)); q.processAllAvailable()
    } finally q.stop()

    val bronze = spark.read.parquet(s"$dir/store/docs")
      .select($"doc_id", $"text").localCheckpoint(eager = true)
    val b1Max = b1.map(_._1).max
    assert(bronze.filter($"doc_id" % 37 === 0 && $"doc_id" <= b1Max).count() === 0L,
      "erased ids must stay gone through the later landings")
    assert(bronze.filter($"doc_id" === recrawlId).count() === 1L,
      "re-crawled erased content must re-land: erasure removed suppression state")

    // final derived state ≡ the bronze truth, exactly as if no erase had
    // interleaved: the posting index answers for the landed bronze…
    val viaIndex = graft.sources.PostingLog
      .booleanAnd(spark, s"$dir/postings", terms)
      .as[(Long, Long)].collect().toSet
    val direct = bronze
      .select($"doc_id", explode(graft.llm.TextAnalysis.words($"text")).as("term"))
      .filter($"term".isin(terms: _*)).distinct()
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .filter($"n" === terms.size)
      .as[(Long, Long)].collect().toSet
    assert(viaIndex === direct)
    assert(viaIndex.nonEmpty)
    // …its stats match the bronze…
    val stats = graft.sources.PostingLog.stats(spark, s"$dir/postings")
      .as[(Long, Long)].head()
    val truth = bronze
      .select(size(graft.llm.TextAnalysis.words($"text")).cast("long").as("dl"))
      .agg(count(lit(1)), sum($"dl")).as[(Long, Long)].head()
    assert(stats === truth)
    // …and the dedup labels equal a batch-built store over the final bronze
    val batchDir = java.nio.file.Files.createTempDirectory("erase_mid_batch").toString + "/st"
    graft.llm.DedupLog.appendEpoch(bronze, batchDir, 0L)
    assert(graft.llm.DedupLog.labelsView(spark, s"$dir/dedup")
      .as[(Long, Long)].collect().toSet ===
      graft.llm.DedupLog.labelsView(spark, batchDir)
        .as[(Long, Long)].collect().toSet)

    // both text stores fsck clean after the interleaved erase + landings
    Seq(graft.sources.StoreCheck.checkPostingLog(spark, s"$dir/postings"),
      graft.sources.StoreCheck.checkDedupLog(spark, s"$dir/dedup")).foreach { f =>
      assert(!f.exists(_.severity == "error"), f.mkString("; "))
    }
  }
}
