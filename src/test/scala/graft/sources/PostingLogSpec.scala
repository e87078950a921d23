package graft.sources

import graft.SparkSpec
import graft.llm.TextAnalysis
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import java.io.File

/** The maintained inverted index ([[PostingLog]]): epoch landings +
  * watermark guard + fold ≡ the build-once index; the additive stats rows
  * are exact through landings, folds, and RTBF; erase rewrites ONLY the
  * affected term buckets (untouched `tb=` dirs byte-identical — the
  * [[VecErasureSpec]] contract on the retrieval surface) and replays as
  * a no-op. */
class PostingLogSpec extends SparkSpec {
  import spark.implicits._

  private val terms = Seq("data", "join", "scan")

  private def corpusDocs = graft.ops.Tables.documentsParallel(spark, sf0001)
    .select($"doc_id", $"text")

  private def buildStore(): String = {
    val dir = java.nio.file.Files.createTempDirectory("posting_log_").toString + "/idx"
    (0L to 1L).foreach { e =>
      PostingLog.appendBatch(corpusDocs.filter(pmod($"doc_id", lit(3L)) === e), dir, e)
    }
    PostingLog.compact(spark, dir)
    PostingLog.appendBatch(corpusDocs.filter(pmod($"doc_id", lit(3L)) === 2L), dir, 2L)
    dir
  }

  private def snapshot(dir: String): Map[String, (Long, Long, String)] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        f.getName -> ((f.length(), f.lastModified(), md5))
      }.toMap

  test("maintained probe ≡ build-once index; folded-epoch replay no-ops; stats exact on fold ∪ live") {
    val dir = buildStore()

    // boolean-AND answers through fold + live epoch ≡ the build-once store
    val maintained = PostingLog.booleanAnd(spark, dir, terms)
      .as[(Long, Long)].collect().toSet
    val once = PostingStore.probe(spark, PostingStore.build(spark, sf0001), terms)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_terms"))
      .filter($"n_terms" === terms.size)
      .as[(Long, Long)].collect().toSet
    assert(maintained === once)
    assert(maintained.nonEmpty, "the term set must match some docs for this test to bite")

    // replay of a folded epoch lands nothing and changes no answer
    assert(PostingLog.appendBatch(
      corpusDocs.filter(pmod($"doc_id", lit(3L)) === 0L), dir, 0L) === 0L)
    assert(PostingLog.booleanAnd(spark, dir, terms)
      .as[(Long, Long)].collect().toSet === maintained)

    // stats rows (one in the fold + one per live epoch) sum to the truth
    val (nDocs, totalDl) = PostingLog.stats(spark, dir)
      .as[(Long, Long)].head()
    val truth = corpusDocs
      .select(size(TextAnalysis.words($"text")).cast("long").as("dl"))
      .agg(count(lit(1)), sum($"dl")).as[(Long, Long)].head()
    assert((nDocs, totalDl) === truth)

    // fold everything: answers and stats unchanged, stats now ONE row
    PostingLog.compact(spark, dir)
    assert(CubeLog.view(spark, dir).liveBatches.isEmpty)
    assert(PostingLog.booleanAnd(spark, dir, terms)
      .as[(Long, Long)].collect().toSet === maintained)
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() === truth)
    val fold = CubeLog.view(spark, dir).foldedDir.get
    assert(spark.read.parquet(fold).filter($"tb" === PostingLog.StatsBucket)
      .count() === 1L)
  }

  test("BM25 through the maintained index ≡ the corpus-scan scorer") {
    val dir = buildStore()
    val viaIndex = PostingLog.bm25TopK(spark, dir, terms)
      .as[(Long, Long)].collect().toSeq

    // the Search scorer's arithmetic recomputed from the raw corpus
    val docs = corpusDocs
    val lens = docs.select($"doc_id",
      size(TextAnalysis.words($"text")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum($"dl").as("total_dl"))
    val tf = docs
      .select($"doc_id", explode(TextAnalysis.words($"text")).as("term"))
      .filter($"term".isin(terms: _*))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val direct = tf.join(broadcast(dfreq), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", expr(
        "((n_docs * 1000000) div df) * tf * 2200 " +
          "div (tf * 1000 + (1200 * (250 + (750 * ((dl * 1000 * n_docs) div total_dl)) " +
          "div 1000)) div 1000)"))
      .groupBy($"doc_id").agg(sum($"term_score").as("score_scaled"))
      .orderBy($"score_scaled".desc, $"doc_id").limit(10)
      .as[(Long, Long)].collect().toSeq
    assert(viaIndex === direct)
  }

  test("erase rewrites only affected buckets; stats decrement exactly; replay no-ops; emptied bucket deleted") {
    // crafted corpus: single-term docs whose buckets we control
    val pool = ('a' to 'z').map(c => s"$c$c$c")
    val tbOf = (t: String) => PostingStore.h64(t) % PostingLog.NBuckets
    // three terms in three DISTINCT buckets (precondition for the test)
    val distinctTerms = pool.groupBy(tbOf).values.map(_.head).take(3).toSeq
    assert(distinctTerms.map(tbOf).distinct.size === 3)
    val Seq(tA, tB, tC) = distinctTerms

    val docs = Seq(
      (1L, s"$tA $tA"), // dl 2, bucket A
      (2L, tB), // dl 1, bucket B
      (3L, s"$tC $tC $tC"), // dl 3, bucket C
      (4L, s"$tA $tB") // dl 2, buckets A and B
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("posting_erase_").toString + "/idx"
    PostingLog.appendBatch(docs.filter($"doc_id" <= 3L), dir, 0L)
    PostingLog.compact(spark, dir)
    PostingLog.appendBatch(docs.filter($"doc_id" === 4L), dir, 1L) // live
    val fold = CubeLog.view(spark, dir).foldedDir.get.stripPrefix("file:")

    val before = new File(fold).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> snapshot(d.getPath)).toMap

    // erase doc 1 (bucket A only, folded) and doc 4 (live epoch)
    val removed = PostingLog.eraseDocs(spark, dir, Seq(1L, 4L))
    assert(removed === 3L, "doc 1 has 1 posting, doc 4 has 2")

    // untouched buckets of the fold stay byte-identical; A was rewritten
    val bA = s"tb=${tbOf(tA)}"
    before.foreach { case (name, snap) =>
      if (name == bA || name == s"tb=${PostingLog.StatsBucket}")
        assert(snapshot(s"$fold/$name") !== snap, s"$name must be rewritten")
      else
        assert(snapshot(s"$fold/$name") === snap, s"$name must not be rewritten")
    }

    // stats decremented exactly: fold loses doc 1 (dl 2); live loses doc 4 (dl 2)
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() === ((2L, 4L)))
    // the live epoch dir was rewritten in place, watermark intact
    val v = CubeLog.view(spark, dir)
    assert(v.liveBatches.map(_._1) === Seq(1L))

    // answers come from survivors only
    assert(PostingLog.probe(spark, dir, Seq(tA)).count() === 0L)
    assert(PostingLog.booleanAnd(spark, dir, Seq(tB)).as[(Long, Long)]
      .collect().toSet === Set((2L, 1L)))

    // replay: zero hits, zero rewrites
    val after = new File(fold).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> snapshot(d.getPath)).toMap
    assert(PostingLog.eraseDocs(spark, dir, Seq(1L, 4L)) === 0L)
    after.foreach { case (name, snap) =>
      assert(snapshot(s"$fold/$name") === snap, s"replay must not rewrite $name")
    }

    // empty a whole bucket: doc 3 is bucket C's only posting source
    assert(PostingLog.eraseDocs(spark, dir, Seq(3L)) === 1L)
    assert(!new File(s"$fold/tb=${tbOf(tC)}").exists(),
      "an emptied bucket must not keep its old files")
    assert(PostingLog.stats(spark, dir).as[(Long, Long)].head() === ((1L, 1L)))
    assert(PostingLog.booleanAnd(spark, dir, Seq(tB)).as[(Long, Long)]
      .collect().toSet === Set((2L, 1L)))
  }

  test("positional probes: phrase and proximity through the index ≡ corpus-scan recompute") {
    val dir = buildStore()
    val post = corpusDocs
      .select($"doc_id",
        posexplode(TextAnalysis.words($"text")).as(Seq("pos0", "term")))
      .select($"doc_id", $"term", ($"pos0" + 1).as("pos"))

    val phrase = PostingLog.phraseCount(spark, dir, "the", "data")
      .as[(Long, Long)].collect().toSet
    val a = post.filter($"term" === "the").select($"doc_id", $"pos")
    val b = post.filter($"term" === "data")
      .select($"doc_id".as("b_doc"), $"pos".as("b_pos"))
    val phraseDirect = a
      .join(b, $"b_doc" === $"doc_id" && $"b_pos" === $"pos" + 1)
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toSet
    assert(phrase === phraseDirect)
    assert(phrase.nonEmpty, "the phrase must occur for this test to bite")

    val prox = PostingLog.proximity(spark, dir, "data", "scan", 4)
      .as[(Long, Long, Long)].collect().toSet
    val pa = post.filter($"term" === "data").select($"doc_id", $"pos")
    val pb = post.filter($"term" === "scan")
      .select($"doc_id".as("b_doc"), $"pos".as("b_pos"))
    val proxDirect = pa
      .join(pb, $"b_doc" === $"doc_id" && abs($"b_pos" - $"pos") <= 4)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), min(abs($"b_pos" - $"pos")).cast("long").as("d"))
      .as[(Long, Long, Long)].collect().toSet
    assert(prox === proxDirect)
    assert(prox.nonEmpty)
  }

  test("compaction cadence: fold fires exactly at the live-epoch bound; auto landing applies it") {
    val dir = java.nio.file.Files.createTempDirectory("posting_cadence_").toString + "/idx"
    val docs = corpusDocs
    (0L to 2L).foreach { e =>
      PostingLog.appendBatch(docs.filter(pmod($"doc_id", lit(4L)) === e), dir, e)
    }
    assert(!PostingLog.shouldCompact(spark, dir, maxLive = 4), "3 live < bound 4")
    assert(PostingLog.appendBatchAuto(
      docs.filter(pmod($"doc_id", lit(4L)) === 3L), dir, 3L, maxLive = 4),
      "the 4th landing reaches the bound and must fold")
    assert(CubeLog.view(spark, dir).liveBatches.isEmpty)
    assert(CubeLog.view(spark, dir).gen === 1L)
    // the folded store still answers exactly
    val maintained = PostingLog.booleanAnd(spark, dir, terms)
      .as[(Long, Long)].collect().toSet
    val once = PostingStore.probe(spark, PostingStore.build(spark, sf0001), terms)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_terms"))
      .filter($"n_terms" === terms.size)
      .as[(Long, Long)].collect().toSet
    assert(maintained === once)
  }

  test("the bucket count is a store property: probes prune each root at its OWN recorded count (r14)") {
    val dir = buildStore()
    assert(PostingLog.storedNBuckets(spark, dir).contains(PostingLog.NBuckets),
      "the first landing must persist the _nb layout sidecar")
    val before = PostingLog.probe(spark, dir, terms)
      .select($"term", $"doc_id").as[(String, Long)].collect().toSet
    // pre-r14 the store-level count was a compile-time contract and a
    // mismatch failed loudly; now every root records the count its tb=
    // layout was written at, so even a corrupted/foreign STORE sidecar
    // cannot send a probe to the wrong bucket of a self-describing root
    val p = new org.apache.hadoop.fs.Path(s"$dir/_nb")
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(p, true)
    try out.write("8".getBytes("UTF-8")) finally out.close()
    assert(PostingLog.probe(spark, dir, terms)
      .select($"term", $"doc_id").as[(String, Long)].collect().toSet === before,
      "self-describing roots answer exactly under a wrong store sidecar")
    // …and a NEW landing now buckets at the (flipped) store count — the
    // store is mid-resize by definition, which probes handle per root; an
    // explicit conflicting count still fails loudly (RebucketSpec)
    PostingLog.appendBatch(corpusDocs.limit(50)
      .select(($"doc_id" + 900000L).as("doc_id"), $"text"), dir, 9L)
    assert(PostingLog.probe(spark, dir, terms)
      .select($"term", $"doc_id").as[(String, Long)].collect().toSet
      .filterNot(_._2 >= 900000L) === before,
      "a mixed-count store still answers the old roots exactly")
  }

  test("bucketsFor: NBuckets floor, power-of-two, ~150MB target; BytesPerToken calibrated on a real store") {
    // rule properties
    assert(PostingLog.bucketsFor(1L, 1L) === PostingLog.NBuckets, "parallelism floor")
    val big = PostingLog.bucketsFor(1000000000L, 500L) // 1B docs × 500 tokens × 16B = 8TB
    assert((big & (big - 1)) === 0L, "power of two")
    assert(big >= 8L * 1024L * 1024L * 1024L * 1024L / PostingLog.TargetBucketBytes / 2,
      "a 1B-doc corpus needs tens of thousands of buckets, not 16")
    // monotone in both inputs
    assert(PostingLog.bucketsFor(2000000L, 100L) <= PostingLog.bucketsFor(4000000L, 100L))
    assert(PostingLog.bucketsFor(2000000L, 100L) <= PostingLog.bucketsFor(2000000L, 200L))
    // the estimated bucket never exceeds the target at the chosen count
    val (n, dl) = (123456789L, 300L)
    val b = PostingLog.bucketsFor(n, dl)
    assert(n * dl * PostingLog.BytesPerToken / b <= PostingLog.TargetBucketBytes)

    // BytesPerToken calibration: a real store over the test corpus must
    // land within a generous band of the estimate (sizing, not accounting
    // — 2× off still yields fine task sizes; 10× off means the model is
    // wrong and buckets degenerate)
    val dir = buildStore()
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    // measure the READER view only (grace-retained dirs are transient copies)
    val bytes = CubeLog.view(spark, dir).dataPaths
      .map(p => du(new java.io.File(p.stripPrefix("file:")))).sum
    val (nDocs, totalDl) = PostingLog.stats(spark, dir).as[(Long, Long)].head()
    val measured = bytes.toDouble / totalDl
    assert(measured <= PostingLog.BytesPerToken * 4.0 &&
      measured >= PostingLog.BytesPerToken / 8.0,
      f"measured $measured%.1f B/token vs pinned ${PostingLog.BytesPerToken} — recalibrate")
  }

  test("stats count only docs with postings; empty epochs land nothing") {
    val dir = java.nio.file.Files.createTempDirectory("posting_stats_").toString + "/idx"

    // a null-text doc lands zero postings — it must not count in the
    // stats row either, or the erase decrement (recovered from postings)
    // and the fsck recount (over postings) drift from the landing forever
    val withNull = Seq((1L, "alpha beta alpha"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(PostingLog.appendBatch(withNull, dir, 0L) === 1L)
    val st = PostingLog.stats(spark, dir).head()
    assert(st.getLong(0) === 1L, s"n_docs must count posting-bearing docs only, saw ${st.getLong(0)}")
    assert(st.getLong(1) === 3L)
    val findings = StoreCheck.checkPostingLog(spark, dir)
    assert(!findings.exists(_.check == "stats-drift"), findings.mkString("; "))

    // an empty epoch (empty micro-batch, or all-null text) lands NOTHING:
    // no epoch dir, no zero stats row, no cadence fan-in contribution
    assert(PostingLog.appendBatch(withNull.limit(0), dir, 1L) === 0L)
    assert(PostingLog.appendBatch(
      Seq((3L, null.asInstanceOf[String])).toDF("doc_id", "text"), dir, 2L) === 0L)
    assert(CubeLog.view(spark, dir).liveBatches.map(_._1) === Seq(0L))
  }

  private def tmpStore(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  /** Docs carrying a crawl day (2026-01-01 + id mod 3): a chunked landing. */
  private def datedDocs = corpusDocs.withColumn("crawl_date",
    date_add(lit("2026-01-01").cast("date"), pmod($"doc_id", lit(3L)).cast("int")))

  /** Single-term docs in three distinct buckets, the fold holding docs 1–3
    * and a live epoch doc 4 — the shape of the erase case above. */
  private def craftedStore(): (String, Seq[String]) = {
    val tbOf = (t: String) => PostingStore.h64(t) % PostingLog.NBuckets
    val ts = ('a' to 'z').map(c => s"$c$c$c").groupBy(tbOf).values.map(_.head).take(3).toSeq
    val Seq(tA, tB, tC) = ts
    val docs = Seq((1L, s"$tA $tA"), (2L, tB), (3L, s"$tC $tC $tC"), (4L, s"$tA $tB"))
      .toDF("doc_id", "text")
    val dir = tmpStore("posting_crafted_")
    PostingLog.appendBatch(docs.filter($"doc_id" <= 3L), dir, 0L)
    PostingLog.compact(spark, dir)
    PostingLog.appendBatch(docs.filter($"doc_id" === 4L), dir, 1L)
    (dir, ts)
  }

  test("the declared posting schema equals the inferred schema on every root shape") {
    def check(shape: String, dir: String): Unit = {
      val roots = PostingLog.dataRoots(spark, dir)
      assert(roots.nonEmpty, shape)
      roots.foreach { r =>
        val inferred = spark.read.parquet(r.path).schema
        assert(PostingLog.schema(r.chunked) === inferred, s"$shape: ${r.path}")
        assert(PostingLog.readRoot(spark, r).schema === inferred, s"$shape: ${r.path}")
      }
    }
    val flat = buildStore()
    check("flat, folded and live", flat)
    PostingLog.eraseDocs(spark, flat, (0L until 300L by 7L))
    check("flat, after erase", flat)
    PostingLog.rebucket(spark, flat, 32L)
    check("flat, after rebucket", flat)

    val chunked = tmpStore("posting_schema_ch_")
    PostingLog.appendBatch(datedDocs.filter(pmod($"doc_id", lit(2L)) === 0L), chunked, 0L)
    PostingLog.compact(spark, chunked)
    PostingLog.appendBatch(datedDocs.filter(pmod($"doc_id", lit(2L)) === 1L), chunked, 1L)
    assert(PostingLog.dataRoots(spark, chunked).forall(_.chunked))
    check("chunked, folded and live", chunked)
    PostingLog.eraseDocs(spark, chunked, (0L until 300L by 7L))
    check("chunked, after erase", chunked)

    // erasing the live epoch's only doc leaves it the stats row alone
    val (crafted, _) = craftedStore()
    PostingLog.eraseDocs(spark, crafted, Seq(4L))
    val live = PostingLog.dataRoots(spark, crafted).last.path.stripPrefix("file:")
    assert(new File(live).list().filter(_.startsWith("tb=")).toSeq ===
      Seq(s"tb=${PostingLog.StatsBucket}"), "the live epoch holds stats only")
    check("a stats-only live root", crafted)
  }

  /** A probe's schema and its rows in (term, doc_id, tb) order. */
  private def answer(df: org.apache.spark.sql.DataFrame) =
    (df.schema, df.orderBy($"term", $"doc_id", $"tb").collect().toSeq)

  test("driver-served posting probes ≡ the distributed plan on every column, across store shapes") {
    // every query on every store: a term no document holds, a repeated term
    val queries = Seq(terms, Seq("the"), Seq("zzzz-held-by-none"),
      Seq("data", "data", "scan"), Seq("scan", "zzzz-held-by-none"))
    def agree(store: String, dir: String, extra: Seq[Seq[String]] = Nil): Unit = {
      val rows = (queries ++ extra).map { q =>
        val probe = PostingLog.probe(spark, dir, q)
        val twin = PostingLog.distributedProbe(spark, dir, q)
        assert(probe.queryExecution.logical.isInstanceOf[LocalRelation], s"$store, $q: plan")
        assert(!twin.queryExecution.logical.isInstanceOf[LocalRelation], s"$store, $q: twin")
        val got = answer(probe)
        assert(got === answer(twin), s"$store, $q")
        if (q.forall(_.startsWith("zzzz"))) assert(got._2.isEmpty, s"$store, $q: rows")
        got._2
      }
      assert(rows.exists(_.nonEmpty), s"$store: no query matched a row")
    }

    agree("flat, folded plus one live epoch", buildStore())

    val chunked = tmpStore("posting_eq_ch_")
    PostingLog.appendBatch(datedDocs.filter(pmod($"doc_id", lit(2L)) === 0L), chunked, 0L)
    PostingLog.compact(spark, chunked)
    PostingLog.appendBatch(datedDocs.filter(pmod($"doc_id", lit(2L)) === 1L), chunked, 1L)
    agree("chunked, one live epoch", chunked)

    // the fold lands at 16 buckets, the live epoch at 32
    val mixed = tmpStore("posting_eq_nb_")
    (0L to 1L).foreach(e =>
      PostingLog.appendBatch(corpusDocs.filter(pmod($"doc_id", lit(3L)) === e), mixed, e))
    PostingLog.compact(spark, mixed)
    assert(PostingLog.rebucketDeferred(spark, mixed, 32L))
    PostingLog.appendBatch(corpusDocs.filter(pmod($"doc_id", lit(3L)) === 2L), mixed, 2L)
    assert(PostingLog.dataRoots(spark, mixed).map(r => PostingLog.rootNBuckets(spark, r.path))
      === Seq(Some(16L), Some(32L)))
    agree("roots at two bucket counts", mixed)

    // erasing doc 1 empties the fold's bucket of tA, and the erase deletes it
    val (crafted, Seq(tA, tB, tC)) = craftedStore()
    assert(PostingLog.eraseDocs(spark, crafted, Seq(1L)) === 1L)
    val fold = CubeLog.view(spark, crafted).foldedDir.get.stripPrefix("file:")
    assert(!new File(s"$fold/tb=${PostingStore.h64(tA) % PostingLog.NBuckets}").exists())
    agree("a probed bucket emptied and deleted", crafted, Seq(Seq(tA), Seq(tA, tB, tC)))

    // every crawl day of the fold expires: the fold root keeps its markers only
    val expired = tmpStore("posting_eq_exp_")
    val days = datedDocs.filter($"crawl_date" === lit("2026-01-01").cast("date"))
    PostingLog.appendBatch(days, expired, 0L)
    PostingLog.compact(spark, expired)
    PostingLog.appendBatch(datedDocs.filter($"crawl_date" > lit("2026-01-01").cast("date")),
      expired, 1L)
    assert(PostingLog.expireBefore(spark, expired, "2026-01-02") > 0L)
    assert(CubeLog.view(spark, expired).foldedDir.nonEmpty &&
      PostingLog.dataRoots(spark, expired).size === 1, "only the live epoch holds data")
    agree("a fully expired fold root", expired)
  }

  test("a posting probe under the gate submits no Spark job, cold or warm") {
    val dir = tmpStore("posting_guard_")
    def probed(when: String): Unit = {
      val (rows, jobs) = jobsOf(PostingLog.probe(spark, dir, terms).collect())
      assert(rows.nonEmpty, when)
      assert(jobs === 0, s"a posting probe $when submitted $jobs jobs")
    }
    PostingLog.appendBatch(corpusDocs.filter(pmod($"doc_id", lit(2L)) === 0L), dir, 0L)
    probed("right after appendBatch")
    PostingLog.compact(spark, dir)
    probed("right after compact")
    PostingLog.appendBatch(corpusDocs.filter(pmod($"doc_id", lit(2L)) === 1L), dir, 1L)
    probed("right after a live appendBatch")
    probed("warm")
  }

  test("a posting probe whose probed bytes exceed the driver gate takes the distributed plan") {
    val gate = DriverRead.PostingProbeMaxBytes
    assert(DriverRead.servedOnDriver(gate, gate) && !DriverRead.servedOnDriver(gate + 1, gate))
    // one bucket holds every posting; random 48-char terms barely compress
    val r = new scala.util.Random(5)
    def token() = r.alphanumeric.take(48).mkString
    val texts = (0 until 10).map(i => (i.toLong, Seq.fill(1500)(token()).mkString(" ")))
    val dir = tmpStore("posting_gate_")
    PostingLog.appendBatch(texts.toDF("doc_id", "text"), dir, 0L, nBuckets = 1L)
    val bucket = new File(s"${PostingLog.dataRoots(spark, dir).head.path.stripPrefix("file:")}/tb=0")
    val bytes = bucket.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(!DriverRead.servedOnDriver(bytes, gate), s"the probed bucket holds $bytes bytes")
    val q = Seq(texts(3)._2.split(" ").head, texts(7)._2.split(" ").last, "zzzz")
    val probe = PostingLog.probe(spark, dir, q)
    assert(!probe.queryExecution.logical.isInstanceOf[LocalRelation])
    val (_, jobs) = jobsOf(probe.collect())
    assert(jobs > 0, "over the gate, the probe runs on the cluster")
    val got = answer(probe)
    assert(got === answer(PostingLog.distributedProbe(spark, dir, q)))
    assert(got._2.map(_.getAs[Long]("doc_id")).toSet === Set(3L, 7L))
  }
}
