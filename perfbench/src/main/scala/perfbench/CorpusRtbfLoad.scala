package perfbench

import graft.llm.DedupLog
import graft.sources.{CorpusRtbf, DocStore, IvfPqLog, PostingLog, StoreCheck, VecStore, VecStoreLog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `corpus_rtbf`: the corpus-store twin. One op lands a seeded corpus into
  * the five maintained surfaces the way `DocStream.startIndexedIngest` does
  * (bronze first, every derived surface from bronze's landed slice, every
  * document with an embedding) as two epochs: one folded, one live. Then
  * a closed loop of searches probes the posting and vector stores, and a
  * last op erases a seed-chosen id set everywhere and runs the cross-surface
  * fsck. `CubeLog` metadata and store lifecycle carry most of the cost here;
  * neither meter workload touches them.
  *
  * `IvfPqLog.compact` is left out: on some seeds its k-means trains fewer
  * coarse cells than the `_ck` sidecar it writes records, which the fsck
  * reports as `coarse-k-mismatch` before any erase (an engine defect, pinned
  * by `BenchSpec`). The IVF-PQ store is landed, erased and checked as live
  * epochs until the fold writes the trained cell count. */
final class CorpusRtbfLoad(ctx: Ctx, nDocs: Int, nErase: Int, minSearches: Int,
    maxSearches: Int) extends Workload {
  import CorpusRtbfLoad._
  private val spark = ctx.spark
  import spark.implicits._
  private val Seq(bronze, posting, dedup, vec, ivfpq) =
    Seq("bronze", "posting", "dedup", "vec", "ivfpq").map(ctx.root)
  private val rng = new scala.util.Random(ctx.seed)
  private val probeCells = VecStore.probeCellsFor(VecStore.cellKFor(nDocs.toLong))
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var embeddings: DataFrame = _

  val spans: Seq[String] = Seq("land_bronze", "land_posting", "land_dedup", "land_vec",
    "land_ivfpq", "probe_posting", "probe_vec", "erase", "fsck")

  def setup(): Unit = {
    corpus = Corpus(ctx.seed, nDocs)
    docs = corpus.texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").localCheckpoint(eager = true)
    embeddings = corpus.vectors.zipWithIndex
      .map { case (v, i) => (i.toLong, corpus.labels(i), v) }
      .toDF("vec_id", "label", "embedding").localCheckpoint(eager = true)
  }

  /** Two arrival-ordered epochs; the first is folded, except on the IVF-PQ
    * store. Per epoch, bronze lands first and the four derived surfaces then
    * land its landed slice concurrently: they write disjoint stores, the way
    * the engine's own erase harness builds them. */
  private def land(): Unit = {
    val per = (nDocs + 1) / 2
    (0 until 2).foreach { e =>
      val slice = docs.filter(col("doc_id") >= e * per && col("doc_id") < (e + 1) * per)
      val landed = ctx.span("land_bronze") {
        DocStore.appendDedupedLanded(spark, slice, bronze, e.toLong)
      }
      landed.foreach { l =>
        val emb = embeddings.join(l.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        together(
          () => ctx.span("land_posting")(PostingLog.appendBatch(l, posting, e.toLong)),
          () => ctx.span("land_dedup")(DedupLog.appendEpoch(l, dedup, e.toLong)),
          () => ctx.span("land_vec")(VecStoreLog.appendBatch(emb, vec, e.toLong)),
          () => ctx.span("land_ivfpq")(IvfPqLog.appendBatch(emb, ivfpq, e.toLong)))
      }
      // the IVF-PQ store keeps both epochs live: its fold is left out (see
      // the class comment)
      if (e == 0)
        together(
          () => ctx.span("land_posting")(PostingLog.compact(spark, posting)),
          () => ctx.span("land_dedup")(DedupLog.compact(spark, dedup)),
          () => ctx.span("land_vec")(VecStoreLog.compact(spark, vec)))
    }
  }

  private def search(terms: Seq[String]): Set[Long] =
    PostingLog.probe(spark, posting, terms).select(col("doc_id")).as[Long].collect().toSet

  /** Top-5 neighbours of `v`, asked under a query id no document has. */
  private def ann(v: Array[Float]): Set[Long] =
    VecStoreLog.probeTopK(spark, vec, Seq((-1L, v)).toDF("vec_id", "embedding"), probeCells)
      .select(col("vec_id")).as[Long].collect().toSet

  private var done = false

  /** The whole sequence in one call: land, searches until the run's seconds
    * are spent (at least `minSearches`), then the erase. */
  def step(): Boolean = {
    if (done) return false
    done = true
    ctx.op("land") { _ =>
      val (_, s) = Ctx.time(land())
      val n = spark.read.parquet(s"$bronze/docs").count()
      ctx.gate(n == nDocs, s"bronze landed $n of $nDocs distinct documents")
      ctx.add("land_s", s)
      s
    }
    var i = 0
    while (i < maxSearches && (i < minSearches || !ctx.deadlinePassed)) {
      ctx.op("search", alternate = true) { _ =>
        val d = rng.nextInt(nDocs)
        val terms = Seq(corpus.idToken(d), Corpus.Vocab(rng.nextInt(Corpus.Vocab.size)))
        val (hits, searchS) = Ctx.time(ctx.span("probe_posting")(search(terms)))
        ctx.gate(hits.contains(d.toLong), s"posting probe for $terms missed doc $d")
        val (top, annS) = Ctx.time(ctx.span("probe_vec")(ann(corpus.vectors(d))))
        ctx.gate(top.contains(d.toLong), s"ANN probe with doc $d's own embedding missed it")
        ctx.add("search_s", searchS)
        ctx.add("ann_s", annS)
        searchS + annS
      }
      i += 1
    }
    ctx.op("erase") { _ =>
      val ids = rng.shuffle((0L until nDocs.toLong).toList).take(nErase).sorted
      val ((receipt, fsck), s) = Ctx.time {
        val r = ctx.span("erase")(CorpusRtbf.eraseEverywhere(spark, ids, bronze, posting, dedup, vec, ivfpq))
        (r, ctx.span("fsck")(CorpusRtbf.fsckReceipt(spark, bronze, posting, dedup, vec, ivfpq)))
      }
      ctx.add("erase_s", s)
      checkErased(ids, receipt, fsck)
      s
    }
    false
  }

  /** Gates: each surface's receipt equals the rows the requested ids had in
    * it, known from the generated corpus (every document landed: one row
    * per id, and on the posting index one row per distinct term of the
    * document); bronze keeps exactly the other documents; the cross-surface
    * fsck finds no error, so no derived surface still holds an erased id;
    * erased ids are absent from both probes. */
  private def checkErased(ids: Seq[Long], receipt: Map[String, Long],
      fsck: Map[String, Long]): Unit = {
    val postings = ids.map(i => corpus.texts(i.toInt).split(" ").distinct.length.toLong).sum
    val expected = Map("bronze_docs" -> ids.size.toLong, "posting_index" -> postings,
      "dedup_state" -> ids.size.toLong, "vec_index" -> ids.size.toLong,
      "ivfpq_index" -> ids.size.toLong)
    expected.foreach { case (surface, want) =>
      val got = receipt.getOrElse(surface, -1L)
      ctx.gate(got == want, s"$surface receipt $got != $want rows held by the requested ids")
    }
    val left = spark.read.parquet(s"$bronze/docs").count()
    ctx.gate(left == nDocs - ids.size, s"bronze holds $left documents after erasing ${ids.size} of $nDocs")
    ctx.gate(fsck.get("fsck_errors").contains(0L), s"fsck after erase: $fsck: ${fsckErrors()}")
    val erased = ids.toSet
    val leaked = search(ids.map(i => corpus.idToken(i.toInt))) ++ ann(corpus.vectors(ids.head.toInt))
    ctx.gate(!leaked.exists(erased), s"erased ids still probed: ${leaked.filter(erased)}")
  }

  /** The fsck's error findings, by store, to name them in a failed gate. */
  private def fsckErrors(): String = Seq(
    "corpus" -> StoreCheck.checkCorpus(spark, bronze, posting, dedup, Some(vec), Some(ivfpq)),
    "posting" -> StoreCheck.checkPostingLog(spark, posting),
    "dedup" -> StoreCheck.checkDedupLog(spark, dedup),
    "vec" -> StoreCheck.checkVecStoreLog(spark, vec),
    "ivfpq" -> StoreCheck.checkIvfPqLog(spark, ivfpq))
    .flatMap { case (store, fs) =>
      fs.filter(_.severity == "error").map(f => s"$store ${f.check}: ${f.detail}")
    }.mkString("; ")

  def verify(): Unit = ()

  def close(): Unit = ()

  private def ms(metric: String) = ctx.samplesOf(metric).map(_ * 1000)

  def endToEnd: Seq[Figure] = {
    val land = ctx.samplesOf("land_s")
    val reads = ctx.samplesOf("search_s").zip(ctx.samplesOf("ann_s")).map { case (a, b) => (a + b) * 1000 }
    Seq(
      Figure("rows_per_s", "1/s", nDocs * land.size / land.sum, land.size),
      Ctx.figure("commit_p50_ms", "ms", ms("erase_s")),
      Ctx.figure("read_p50_ms", "ms", reads))
  }

  def report: Seq[Figure] = Seq(
    Ctx.figure("corpus_land_s", "s", ctx.samplesOf("land_s")),
    Ctx.figure("corpus_search_p50_ms", "ms", ms("search_s")),
    Ctx.figure("corpus_ann_p50_ms", "ms", ms("ann_s")),
    Ctx.figure("corpus_erase_s", "s", ctx.samplesOf("erase_s")))
}

object CorpusRtbfLoad {
  /** A seeded corpus: each document is one id token plus 40–79 vocabulary
    * words; every twentieth document is a near-duplicate of a recent one
    * (two words changed), so the dedup surface has clusters to repair on
    * erase. Every document carries a 64-dim embedding near one of eight
    * seeded centres; a near-duplicate's embedding is near its original's. */
  final case class Corpus(texts: IndexedSeq[String], labels: IndexedSeq[Int],
      vectors: IndexedSeq[Array[Float]]) {
    def idToken(id: Int): String = Corpus.idToken(id)
  }

  object Corpus {
    val Vocab: IndexedSeq[String] = IndexedSeq(
      "the", "a", "data", "join", "scan", "grid", "meter", "stream", "batch", "window",
      "merge", "index", "probe", "shard", "fold", "epoch", "table", "query", "plan", "cache",
      "store", "wire", "crawl", "token", "label", "graph", "node", "edge", "range", "delta",
      "bound", "hash", "cell", "code", "rank", "score", "text", "word", "page", "site",
      "load", "zone", "peak", "hour", "day", "bill", "rate", "tariff", "solar", "volt")
    val Dims = 64
    val Centres = 8

    def idToken(id: Int): String = f"doc$id%06d"

    def apply(seed: Long, n: Int): Corpus = {
      val r = new scala.util.Random(seed)
      val centres = IndexedSeq.fill(Centres)(Array.fill(Dims)(r.nextGaussian()))
      val words = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
      val labels = scala.collection.mutable.ArrayBuffer.empty[Int]
      val vectors = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      (0 until n).foreach { id =>
        if (id % 20 == 19) {
          val src = id - 1 - r.nextInt(math.min(id, 10))
          val w = words(src).clone()
          (0 until 2).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.size)))
          words += w
          labels += labels(src)
          vectors += vectors(src).map(x => (x + 0.05 * r.nextGaussian()).toFloat)
        } else {
          words += Array.fill(40 + r.nextInt(40))(Vocab(r.nextInt(Vocab.size)))
          val c = r.nextInt(Centres)
          labels += c
          vectors += centres(c).map(x => (x + 0.6 * r.nextGaussian()).toFloat)
        }
      }
      Corpus(words.indices.map(i => (idToken(i) +: words(i).toSeq).mkString(" ")),
        labels.toIndexedSeq, vectors.toIndexedSeq)
    }
  }

  /** Runs `tasks` on threads of their own; waits for all before rethrowing
    * the first failure. */
  private def together(tasks: (() => Any)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Any] {
        def call(): Any = t()
      }))
      val failures = futures.flatMap(f => scala.util.Try(f.get()).failed.toOption)
      failures.headOption.foreach {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
        case e => throw e
      }
    } finally pool.shutdown()
  }
}
