package graft.streaming

import graft.llm.{TextAnalysis, TextPolicy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus ingestion: the ONLINE twin of the batch
  * corpus-assembly chain. Documents arrive as an unbounded stream and are
  * curated incrementally:
  *
  *   1. Gopher policy gate — the same rule columns the batch
  *      `text_gopher_rules` query uses ([[TextPolicy.gopher]]; one shared
  *      definition, so online and offline filtering can never disagree).
  *      Narrow per-row expressions, zero state.
  *   2. Exact-dup suppression within a watermark —
  *      `dropDuplicatesWithinWatermark` on the content hash. State is
  *      BOUNDED by the watermark horizon (the streaming analogue of
  *      `dedup_exact` / the C4 keep-first rule): a redelivered or
  *      re-crawled document inside the horizon is dropped, state for
  *      expired horizons is evicted — this is the shape that survives an
  *      unbounded 100 TB/day crawl, where an unwindowed global dedup
  *      would accumulate state forever. (Corpus-wide historical dedup
  *      stays a batch job — `dedup_exact` — over the landed bronze.)
  *
  * Input schema: (doc_id LONG, event_time TIMESTAMP, lang STRING,
  * source STRING, text STRING). Output appends the policy verdict columns
  * plus the content hash, so downstream sinks can route kept/dropped.
  */
object DocStream {

  /** Curate a document stream: hash → watermark → in-horizon exact dedup
    * → policy gate. Works identically on a batch frame (minus the
    * watermark/dedup state semantics), which the spec exploits. A
    * `crawl_date` input column rides through, so dated documents land
    * calendar-chunked downstream. */
  def curate(docs: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val g = TextPolicy.gopher(col("text"))
    val dated = if (graft.sources.CubeLog.carriesCrawlDate(docs)) Seq(col("crawl_date")) else Nil
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .withColumn("n_words", g.nWords)
      .withColumn("pass_gopher", g.pass)
      // per-batch curation counters (the corpus-path analogue of
      // Ingest.parseAndValidate's drop accounting): rows surviving the
      // in-horizon dedup, and how many the policy gate rejects —
      // surfaced on every QueryProgress via observedMetrics("curate")
      .observe("curate",
        count(lit(1)).as("n_after_dedup"),
        sum(when(col("pass_gopher"), 0L).otherwise(1L)).as("n_policy_dropped"))
      .filter(col("pass_gopher"))
      .select(Seq(col("doc_id"), col("event_time"), col("lang"), col("source"),
        col("text"), col("content_hash"), col("n_words")) ++ dated: _*)
  }

  /** The full online ingestion pipeline: [[curate]] (policy gate +
    * in-horizon dedup, BOUNDED state) feeding
    * [[graft.sources.DocStore.appendDeduped]] per micro-batch (history
    * dedup via the hash index, UNBOUNDED coverage at index-sized cost).
    * The two layers compose into history-wide exactly-once landing: the
    * watermark bounds streaming state, and anything that slips past the
    * horizon (a re-crawl weeks later) still anti-joins the index. */
  def startCuratedIngest(
      docs: org.apache.spark.sql.DataFrame,
      baseDir: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      watermark: String = "10 minutes"): org.apache.spark.sql.streaming.StreamingQuery =
    curate(docs, watermark).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // batchId threads through to DocStore's dynamic-overwrite commit —
        // foreachBatch is at-least-once, and the id is what makes a
        // replayed batch rewrite its partition instead of duplicating
        graft.sources.DocStore.appendDeduped(batch.sparkSession, batch, baseDir, batchId)
        ()
      }
      .trigger(trigger)
      .outputMode("append")
      .start()

  /** The full online corpus pipeline with the DERIVED surfaces maintained
    * in the same landing: [[curate]] → bronze ([[graft.sources.DocStore]]
    * history-exact-once) → the SAME landed slice feeds the maintained
    * posting index ([[graft.sources.PostingLog]] — the corpus is
    * searchable the moment it lands) and the incremental dedup state
    * ([[graft.llm.DedupLog]] — near-dup clusters stay current without a
    * batch re-dedup). Feeding the landed slice, not the raw batch, is
    * load-bearing twice over: the derived stores can never index a
    * document the bronze rejected as a historical re-crawl, and the
    * per-batch work for both is delta-sized by construction.
    *
    * Replay safety is layered exactly like the stores themselves: the
    * bronze's dynamic overwrite re-lands a replayed batch id onto itself,
    * and when the bronze already committed (a retry after a crash BETWEEN
    * the bronze write and the derived landings — the at-least-once shape
    * foreachBatch guarantees will happen eventually),
    * [[graft.sources.DocStore.landedSlice]] re-derives the batch's landed
    * rows from the bronze so the posting/dedup landings still run; both
    * are overwrite-idempotent + watermark-guarded, so re-landing
    * identical rows is a no-op in content. foreachBatch retries in order
    * (batch N before N+1), which is the in-order landing contract
    * [[graft.llm.DedupLog.appendEpoch]] documents.
    *
    * A stream of documents carrying a `crawl_date` column (the crawl day
    * of each document — its EVENT date, not the landing wall-clock, so a
    * late-arriving document lands in ITS day and replays land in the
    * chunk they landed in first) lands every surface calendar-chunked
    * (`chunk_date=`), so [[graft.sources.CorpusRtbf.expireEverywhere]]
    * can age the streamed corpus out with driver-side deletes; the folds
    * keep the axis and `landedSlice` repairs from the chunked bronze. */
  def startIndexedIngest(
      docs: org.apache.spark.sql.DataFrame,
      baseDir: String,
      postingDir: String,
      dedupDir: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger,
      watermark: String = "10 minutes"): org.apache.spark.sql.streaming.StreamingQuery =
    curate(docs, watermark).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        graft.sources.DocStore
          .appendDedupedLanded(batch.sparkSession, batch, baseDir, batchId)
          // a retry after the bronze committed: re-derive this batch's
          // landed rows from the bronze — skipping here would lose the
          // batch from the derived stores FOREVER (they are exactly-once
          // under re-landing, so repair is just landing again)
          .orElse(graft.sources.DocStore
            .landedSlice(batch.sparkSession, baseDir, batchId))
          .foreach { landed =>
            // the AUTO variants: each store folds itself at its own
            // cadence bound, so read fan-in stays bounded without an
            // operator remembering to compact
            graft.sources.PostingLog.appendBatchAuto(landed, postingDir, batchId)
            // dedup regime per landing, from the MEASURED boundary
            // (Dedup.chooseMaintained — below the crossover a full
            // relabel from stored signatures beats the incremental
            // machinery's extra sequential jobs; both regimes are
            // answer-identical and share one store layout, so flipping
            // mid-stream as the corpus crosses ~28 K docs is invisible
            // to every reader, eraser, and fold)
            val spark = landed.sparkSession
            val corpusRows = graft.llm.DedupLog.storedDocRows(spark, dedupDir)
            if (graft.llm.Dedup.chooseMaintained(corpusRows, landed.count()))
              graft.llm.DedupLog.appendEpochAuto(landed, dedupDir, batchId)
            else
              graft.llm.DedupLog.appendEpochBatchAuto(landed, dedupDir, batchId)
          }
        ()
      }
      .trigger(trigger)
      .outputMode("append")
      .start()

  /** Windowed TRENDING-TOKEN detection over the document stream: tumbling
    * event-time windows of per-token counts, emitted only once the
    * watermark closes the window (append mode ⇒ exactly-once, late docs
    * inside the horizon still count). The batch twin is a plain
    * (window, token) groupBy — the spec asserts closed-window equality.
    *
    * Scale shape: explode is narrow; the windowed aggregate partial-aggs
    * map-side before one exchange on (window, token); state is bounded by
    * |vocab| × open windows, and the `minCount` gate keeps the emission
    * (and any downstream sink) to genuinely-trending tokens. */
  def trendingTokens(
      docs: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "10 minutes",
      minCount: Long = 3L): DataFrame =
    docs
      .withWatermark("event_time", watermark)
      .select(col("event_time"),
        explode(TextAnalysis.words(col("text"))).as("token"))
      .groupBy(window(col("event_time"), windowLen), col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("token"), col("n"))
}
