package graft.llm

import graft.GraftQuery
import graft.GraftQuery.q
import graft.functions.FixedPointDot
import graft.ops.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (Array[Float], dim 64).
  *
  * Numeric design: floats are quantized to 2^20 fixed-point BIGINTs, so dot
  * products are *exact integers* (|dot| ≤ 64·2^40 ≪ 2^53) — results are
  * independent of summation order (shuffle-/partition-safe at cluster
  * scale) and bit-identical to the DuckDB oracle. The ~1e-6 quantization
  * error is far below any meaningful similarity threshold.
  *
  * Scale design: brute-force top-k is the correctness baseline (cost
  * |Q|·|N|); the LSH variant buckets by 8 random-hyperplane sign bits and
  * joins only within buckets — the 100 TB path, where the only shuffle is
  * on the bucket key.
  */
object Similarity {

  // 2^20 fixed-point scale (graft-visible: VecStore mirrors the arithmetic)
  private[graft] val Q = 1048576L

  // banded threshold-dedup geometry (declared before any val that builds
  // SQL from them — object init order matters)
  private val DedupBands = 8
  private val DedupBits = 3

  /** Quantized vector + its self-dot (squared norm) over any embeddings
    * frame. */
  private[graft] def quantizedOf(df: DataFrame): DataFrame =
    df.select(
      col("vec_id"), col("label"),
      expr(s"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Q) AS BIGINT))").as("qv"))
      .withColumn("norm2", FixedPointDot(col("qv"), col("qv")))

  /** Quantized corpus spread across all cores, reused by every query. */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    quantizedOf(Tables.embeddingsParallel(s, d))

  private[graft] val quantizedSql: String =
    s"""qe AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * $Q) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qn AS (
       |  SELECT vec_id, label, qv,
       |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS norm2
       |  FROM qe)""".stripMargin

  /** Codegen'd tight-loop dot ([[graft.functions.FixedPointDot]]) — the
    * HOF `aggregate(zip_with(…))` form it replaces evaluates interpreted
    * per element and dominated the similarity-join runtime. */
  private[llm] def dot(a: String, b: String): Column =
    graft.functions.FixedPointDot(col(a), col(b))

  /** K-means centroids trained with [[CentroidIters]] Lloyd iterations, in
    * DataFrames: seed = the k smallest vec_ids, assign = broadcast
    * centroids + map-side nearest-by-cosine, update = exact element-wise
    * TRUNCATED mean of the fixed-point vectors. Truncation — Spark's
    * native `div` — because DuckDB's integer `//` also truncates toward
    * zero (measured: -7 // 2 = -3; an earlier pmod-floor formulation here
    * assumed `//` floors and silently disagreed by 1 on every
    * negative-sum dimension — masked only because ±1 centroid ulps never
    * flipped an assignment at test scale). Cells that lose every member
    * drop out on both engines identically. The corpus only ever crosses a
    * BROADCAST of k rows — the 100 TB k-means shape. */
  /** The centroid frame packed into ONE broadcastable row of parallel
    * arrays (cids, cqvs, cnorms), sorted by c_id — the "codebook" the
    * fused assignment reads. The collect/sort runs on k≈8 rows. */
  private[graft] def centsRow(cents: DataFrame): DataFrame =
    cents
      .agg(array_sort(collect_list(struct(col("c_id"), col("cqv"), col("cnorm2")))).as("cs"))
      .select(
        expr("transform(cs, c -> c.c_id)").as("cids"),
        expr("transform(cs, c -> c.cqv)").as("cqvs"),
        expr("transform(cs, c -> c.cnorm2)").as("cnorms"))

  /** Map-side nearest-cell ranking: ONE [[FixedPointDotMulti]] pass gives
    * all per-centroid dots; the k=8 cosine divisions and the sort happen
    * as array arithmetic in the same projection. `ranked` is
    * array<struct<nc, id>> ascending by (−cosine, c_id) — element 0 is
    * the Lloyd/IVF assignment, slice(…, 1, p) the multi-probe cells. The
    * cosine doubles are computed with the exact operation order of the
    * previous per-row form (and of the oracle), so ranking ties and
    * values are bit-identical; the crossJoin ships one broadcast row.
    *
    * This replaces the crossJoin-explode + vec_id-keyed argmax/window
    * shape, which SHUFFLED 8× the corpus (with the 64-wide qv payload)
    * per Lloyd step — the assignment stage now has no exchange at all. */
  private[graft] def assignRanked(qe: DataFrame, cents: DataFrame): DataFrame =
    assignRankedPacked(qe, centsRow(cents))

  /** [[assignRanked]] against an ALREADY-PACKED one-row codebook frame —
    * the persisted-index probe path loads the packed row straight off
    * parquet and skips the k-row collect/pack job entirely. */
  private[graft] def assignRankedPacked(qe: DataFrame, packed: DataFrame): DataFrame =
    // ranking through the native [[graft.functions.CosRankCells]] (r15):
    // the former array_sort(zip_with(zip_with(…))) chain evaluated its
    // lambdas interpreted per element (~0.5-1 ms/row at k=32-45), which
    // made ASSIGNMENT, not dot products, the dominant CPU of every Lloyd
    // round / encode / probe. Same doubles in the same operation order,
    // same (nc, id) ascending order — bit-identical ranked array.
    qe.crossJoin(broadcast(packed))
      .withColumn("dots", graft.functions.FixedPointDotMulti(col("qv"), col("cqvs")))
      .withColumn("ranked", graft.functions.CosRankCells(
        col("dots"), col("cnorms"), col("cids"), col("norm2")))

  private[graft] def lloydCentroids(qe: DataFrame, k: Int, iters: Int): DataFrame = {
    // seeds = the k SMALLEST vec_ids present (TakeOrderedAndProject — k
    // rows, no full sort), not `vec_id < k`: the latter assumes ids dense
    // from 0, which holds for the corpus tables but not for a maintained
    // store fed by a stream whose ids compose (meter, second) — there it
    // seeds ZERO centroids and training crashes. Identical seeds (and
    // bit-identical results) on dense-from-0 corpora; on subset-trained
    // stores it always finds the full k seeds the truncated form missed.
    var cents = qe.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"), col("qv").as("cqv"), col("norm2").as("cnorm2"))
    for (_ <- 0 until iters) {
      // nearest-centroid assignment, fused and exchange-free (ties break
      // to the smallest c_id via the ranked struct sort, matching the
      // oracle's ORDER BY ccos DESC, c_id)
      val assigned = assignRanked(qe, cents)
        .select(expr("ranked[0].id").as("c_id"), col("qv"))
      // element-wise sums through ONE native array aggregate
      // ([[graft.functions.VecSumCount]], r15): the 64-separate-sum()
      // form before it planned 65 aggregate expressions whose buffer
      // field count broke the aggregate's codegen fast path and paid 64
      // per-column buffer updates per row; the typed aggregate does one
      // tight long[]-loop per row and still partial-aggregates map-side
      // (ObjectHashAggregate). The truncated mean per element: same
      // exact long sums (addition associative ⇒ partitioning-safe),
      // Spark `div` ≡ DuckDB `//` (both truncate toward zero), so
      // centroids are bit-identical to the oracle's
      // list(s // n ORDER BY pos).
      cents = assigned
        .groupBy(col("c_id"))
        .agg(graft.functions.VecSumCount(col("qv")).as("sc"))
        .select(col("c_id"),
          expr("transform(slice(sc, 2, 64), s -> s div sc[0])").as("cqv"))
        .withColumn("cnorm2", FixedPointDot(col("cqv"), col("cqv")))
        // LAZY lineage truncation on the k-row frame, one per round (the
        // star-contraction doctrine, Dedup.scala): without any checkpoint
        // every later broadcast(centsRow(…)) job replays the whole
        // preceding Lloyd chain — iteration i executes iters-i+1 times.
        // Lazy (eager=false) keeps the truncation but folds each round's
        // first execution into the job that consumes it instead of paying
        // a scheduled eager job per round — measured ~0.3 s off the IVF
        // queries with bit-identical results
        .localCheckpoint(eager = false)
    }
    cents
  }

  private[graft] val CentroidK = 8
  private[graft] val CentroidIters = 2

  /** Oracle CTE chain `c0 … c$iters` mirroring [[lloydCentroids]] over the
    * `qn` frame; the trained centroids are `c$iters(c_id, cqv, cnorm2)`. */
  private[graft] def lloydCtes(iters: Int, k: Int = CentroidK,
      src: String = "qn"): String = {
    val sb = new StringBuilder(
      s"c0 AS (SELECT vec_id AS c_id, qv AS cqv, norm2 AS cnorm2 FROM $src ORDER BY vec_id LIMIT $k)")
    for (it <- 1 to iters) {
      sb.append(s""",
         |a$it AS (
         |  SELECT vec_id, qv, c_id, row_number() OVER (
         |    PARTITION BY vec_id
         |    ORDER BY CAST(list_sum(list_transform(list_zip(qv, cqv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
         |  FROM $src, c${it - 1}),
         |m$it AS (
         |  SELECT c_id, t.i AS pos, CAST(SUM(qv[t.i + 1]) AS BIGINT) AS s, COUNT(*) AS n
         |  FROM a$it, range(0, 64) AS t(i) WHERE cr = 1 GROUP BY c_id, t.i),
         |c$it AS (
         |  SELECT c_id, cqv, CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cnorm2
         |  FROM (SELECT c_id, list(s // n ORDER BY pos) AS cqv FROM m$it GROUP BY c_id))""".stripMargin)
    }
    sb.toString
  }

  lazy val all: Seq[GraftQuery] = Seq(
    // ---- near-duplicate pairs by cosine threshold (embedding dedup)
    q("dedup_embedding_cosine",
      s"""WITH $quantizedSql,
         |pairs AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
         |  FROM qn a JOIN qn b ON a.vec_id < b.vec_id)
         |SELECT v1, v2, cosine FROM pairs WHERE cosine >= 0.4""".stripMargin) { (s, d) =>
      val qe = quantized(s, d)
      // ground-truth all-pairs runs only at verification scale: broadcast
      // one side so the plan is a bounded-build BNLJ, never CartesianProduct
      qe.as("a").join(broadcast(qe.as("b")), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
          (dot("a.qv", "b.qv").cast("double")
            / (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))))
            .as("cosine"))
        .filter(col("cosine") >= 0.4)
    },

    // ---- brute-force cosine top-k (every 50th vector as a query)
    q("sim_bruteforce_topk",
      s"""WITH $quantizedSql,
         |scored AS (
         |  SELECT qv1.vec_id AS query_id, qv2.vec_id AS vec_id, qv2.label AS label,
         |    CAST(list_sum(list_transform(list_zip(qv1.qv, qv2.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(qv1.norm2 AS DOUBLE)) * sqrt(CAST(qv2.norm2 AS DOUBLE))) AS cosine
         |  FROM qn qv1 JOIN qn qv2 ON qv1.vec_id % 50 = 0 AND qv2.vec_id <> qv1.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, label, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, label, cosine, rank FROM ranked WHERE rank <= 10""".stripMargin) { (s, d) =>
      val qe = quantized(s, d)
      // the query side is destined for a broadcast build: quantize the
      // UN-repartitioned scan (the parallelizing exchange would be pure
      // waste on rows about to be collected to the driver anyway)
      val queries = quantizedOf(
        Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0))
      // the query set is 1/50th of the corpus by construction — broadcast
      // it so brute-force scoring is one corpus pass (BNLJ, bounded build)
      val scored = broadcast(queries.as("a"))
        .join(qe.as("b"), col("b.vec_id") =!= col("a.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
          col("b.label").as("label"),
          (dot("a.qv", "b.qv").cast("double")
            / (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))))
            .as("cosine"))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rank") <= 10)
    },

    // ---- k-NN CLASSIFICATION eval (k=5 majority vote over exact cosine
    // neighbors): the standard downstream probe of embedding quality —
    // "do nearest neighbors share the label?" — run as a query, so the
    // eval harness is the engine itself. Same probe set and broadcast
    // brute-force scoring join as sim_bruteforce_topk (1/50th of the
    // corpus broadcasts, one corpus pass); the vote count and the
    // majority pick are per-query-keyed aggregates/windows with
    // deterministic (votes desc, label) tie-breaks. `correct` makes the
    // accuracy a one-aggregate readout downstream.
    q("sim_knn_classify",
      s"""WITH $quantizedSql,
         |scored AS (
         |  SELECT qv1.vec_id AS query_id, qv1.label AS true_label,
         |    qv2.vec_id AS vec_id, qv2.label AS label,
         |    CAST(list_sum(list_transform(list_zip(qv1.qv, qv2.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(qv1.norm2 AS DOUBLE)) * sqrt(CAST(qv2.norm2 AS DOUBLE))) AS cosine
         |  FROM qn qv1 JOIN qn qv2 ON qv1.vec_id % 50 = 0 AND qv2.vec_id <> qv1.vec_id),
         |ranked AS (
         |  SELECT query_id, true_label, label,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored),
         |votes AS (
         |  SELECT query_id, true_label, label AS pred_label,
         |    CAST(COUNT(*) AS BIGINT) AS n_votes
         |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2, 3),
         |pick AS (
         |  SELECT query_id, true_label, pred_label, n_votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY n_votes DESC, pred_label) AS rn
         |  FROM votes)
         |SELECT query_id, true_label, pred_label, n_votes,
         |  pred_label = true_label AS correct
         |FROM pick WHERE rn = 1""".stripMargin) { (s, d) =>
      val qe = quantized(s, d)
      val queries = quantizedOf(
        Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0))
      val scored = broadcast(queries.as("a"))
        .join(qe.as("b"), col("b.vec_id") =!= col("a.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("a.label").as("true_label"),
          col("b.vec_id").as("vec_id"), col("b.label").as("label"),
          (dot("a.qv", "b.qv").cast("double")
            / (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))))
            .as("cosine"))
      val byQuery = Window.partitionBy(col("query_id"))
      scored
        .withColumn("rank", row_number().over(
          byQuery.orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rank") <= 5)
        .groupBy(col("query_id"), col("true_label"), col("label").as("pred_label"))
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("rn", row_number().over(
          byQuery.orderBy(col("n_votes").desc, col("pred_label"))))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("true_label"), col("pred_label"),
          col("n_votes"), (col("pred_label") === col("true_label")).as("correct"))
    },

    // ---- LSH-bucketed ANN: 8 random-hyperplane sign bits -> bucket;
    // candidates only within the query's bucket (the scale path)
    q("sim_lsh_topk", {
      val planes = Similarity.planes
      val bitsSql = planes.zipWithIndex.map { case (w, p) =>
        val lit = w.mkString("[", ", ", "]")
        s"(CASE WHEN CAST(list_sum(list_transform(list_zip(qv, $lit), p -> p[1] * p[2])) AS BIGINT) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH $quantizedSql,
         |bucketed AS (SELECT vec_id, label, qv, norm2, $bitsSql AS bucket FROM qn),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.label AS label, a.bucket AS bucket,
         |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
         |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket
         |    AND a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, label, bucket, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, label, bucket, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin
    }) { (s, d) =>
      val qe = quantized(s, d)
      // all 8 plane signs in one fused pass; same value as the CASE sum
      val bucketed = qe.withColumn("bucket",
        graft.functions.PlaneSignMask(col("qv"), 8).cast("int"))
      val scored = bucketed.as("a")
        .join(bucketed.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") % 50 === 0 &&
            col("b.vec_id") =!= col("a.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
          col("b.label").as("label"), col("a.bucket").as("bucket"),
          (dot("a.qv", "b.qv").cast("double")
            / (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))))
            .as("cosine"))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rank") <= 5)
    }
  ) :+ ivfQuery :+ dedupLshQuery :+ dedupIvfQuery :+ diversityQuery :+
    centroidOutlierQuery :+ semanticKeepQuery :+ lshRecallEvalQuery :+
    cosineHistogramQuery :+ pqTopkQuery :+ ivfPqTopkQuery :+ ivfPqProbeQuery :+ decontEmbQuery :+
    hardNegativesQuery

  /** Hard-negative mining for contrastive training (the FaceNet/DPR
    * data-prep step, Schroff et al. CVPR 2015): for each query vector,
    * the top-3 most-similar vectors with a DIFFERENT label — the
    * negatives that actually teach a contrastive model — plus the best
    * same-label cosine (`pos_max`) and the resulting margin, so semi-hard
    * selection (margin > 0) is a downstream filter. Same exact
    * fixed-point scoring and broadcast-query BNLJ as
    * [[sim_bruteforce_topk]]; the scored frame is lazily checkpointed
    * because both the positive max and the negative ranking read it
    * (one corpus pass, not two). The ranking window is query-keyed —
    * distributed across queries, never global. Queries with no same-label
    * peer emit NULL pos_max/margin (left join) rather than vanishing. */
  lazy val hardNegativesQuery: GraftQuery =
    q("sim_hard_negatives",
      s"""WITH $quantizedSql,
         |scored AS (
         |  SELECT a.vec_id AS query_id, a.label AS q_label,
         |    b.vec_id AS vec_id, b.label AS label,
         |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
         |  FROM qn a JOIN qn b ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
         |pos AS (
         |  SELECT query_id, MAX(cosine) AS pos_max
         |  FROM scored WHERE label = q_label GROUP BY 1),
         |negs AS (
         |  SELECT query_id, vec_id, label, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored WHERE label <> q_label)
         |SELECT n.query_id, n.vec_id, n.label, n.cosine, n.rank,
         |  p.pos_max, p.pos_max - n.cosine AS margin
         |FROM negs n LEFT JOIN pos p USING (query_id)
         |WHERE n.rank <= 3""".stripMargin) { (s, d) =>
      val qe = quantized(s, d)
      val queries = quantizedOf(
        Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0))
      val scored = broadcast(queries.as("a"))
        .join(qe.as("b"), col("b.vec_id") =!= col("a.vec_id"))
        .select(col("a.vec_id").as("query_id"), col("a.label").as("q_label"),
          col("b.vec_id").as("vec_id"), col("b.label").as("label"),
          (dot("a.qv", "b.qv").cast("double")
            / (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))))
            .as("cosine"))
        .localCheckpoint(eager = false) // read by pos max AND neg ranking
      val pos = scored.filter(col("label") === col("q_label"))
        .groupBy(col("query_id")).agg(max(col("cosine")).as("pos_max"))
      val negs = scored.filter(col("label") =!= col("q_label"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
        .filter(col("rank") <= 3)
      negs.join(pos, Seq("query_id"), "left")
        .select(col("query_id"), col("vec_id"), col("label"), col("cosine"),
          col("rank"), col("pos_max"), (col("pos_max") - col("cosine")).as("margin"))
    }

  // ---- Product Quantization geometry (Jégou, Douze, Schmid: "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011)
  private val PqM = 8        // subspaces
  private val PqSubDim = 8   // dims per subspace (8 × 8 = 64)
  private val PqK = 32       // centroids per sub-codebook (5-bit codes)
  private[graft] val PqShortlist = 50
  private[graft] val PqTopK = 5

  /** Sub-vector explode shared by the PQ queries: each `keep`-keyed row of
    * `vecCol` becomes [[PqM]] narrow (m, sv) rows. */
  private def pqSplit(df: DataFrame, vecCol: String, keep: Seq[String]): DataFrame =
    df.select(keep.map(col) :+ explode(expr(s"sequence(0, ${PqM - 1})")).as("m")
        :+ col(vecCol).as("fullv"): _*)
      .select(keep.map(col) :+ col("m")
        :+ expr(s"slice(fullv, m * $PqSubDim + 1, $PqSubDim)").as("sv"): _*)

  /** Per-subspace codebook packed into [[PqM]] broadcastable rows of
    * parallel arrays sorted by c_id (the centsRow doctrine, keyed by m). */
  private def pqPacked(cb: DataFrame): DataFrame =
    cb.groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("c_id"), col("cqv"), col("cnorm2")))).as("cs"))
      .select(col("m"),
        expr("transform(cs, c -> c.c_id)").as("cids"),
        expr("transform(cs, c -> c.cqv)").as("cqvs"),
        expr("transform(cs, c -> c.cnorm2)").as("cnorms"))

  /** Map-side sub-quantizer assignment: all k sub-dots in ONE
    * [[FixedPointDotMulti]] pass; argmin of ‖c‖² − 2·x·c (the monotone
    * L2 surrogate) with ties to the smallest c_id, as `best.id`. */
  private def pqAssign(subs: DataFrame, cbRow: DataFrame): DataFrame =
    // native argmin ([[graft.functions.ArgMinScoreId]], r15) instead of
    // the interpreted sort-then-take-head HOF chain — same (sc, id)
    // ascending minimum, exact long arithmetic, bit-identical best cell
    subs.join(broadcast(cbRow), "m")
      .withColumn("dots", graft.functions.FixedPointDotMulti(col("sv"), col("cqvs")))
      .withColumn("best", graft.functions.ArgMinScoreId(
        col("dots"), col("cnorms"), col("cids")))

  /** One Lloyd round per subspace over exploded sub-vectors: seeds are the
    * [[PqK]] smallest vec_ids, update is the exact truncated mean per
    * dimension (`div` ≡ DuckDB `//`). Returns (m, c_id, cqv, cnorm2). */
  private def pqTrain(subs: DataFrame): DataFrame = {
    // seeds = the sub-vectors of the PqK SMALLEST vec_ids PRESENT (the
    // [[lloydCentroids]] doctrine, which r12 applied to the coarse
    // codebook but not here): `vec_id < PqK` assumes ids dense from 0 —
    // true for the corpus tables, FALSE for a maintained store fed by a
    // stream whose ids compose (meter, second). There it seeded ZERO
    // sub-codebooks, every pqAssign join emptied, and the streaming
    // sweep's mid-run IVF-PQ fold committed a generation with EMPTY codes
    // (an unreadable store — caught live by ingest+ivfpq-index).
    // Identical seeds and bit-identical codebooks on dense-from-0 corpora.
    val seedIds = subs.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(PqK)
    val cb0 = subs.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("m"), col("vec_id").as("c_id"), col("sv").as("cqv"))
      .withColumn("cnorm2", FixedPointDot(col("cqv"), col("cqv")))
    // element-wise sums through the native array aggregate (the
    // [[lloydCentroids]] r15 shape — same exact long sums, same
    // truncated-mean arithmetic, one buffer instead of PqSubDim+1)
    pqAssign(subs, pqPacked(cb0))
      .select(col("m"), expr("best.id").as("c_id"), col("sv"))
      .groupBy(col("m"), col("c_id"))
      .agg(graft.functions.VecSumCount(col("sv")).as("sc"))
      .select(col("m"), col("c_id"),
        expr(s"transform(slice(sc, 2, $PqSubDim), s -> s div sc[0])").as("cqv"))
      .withColumn("cnorm2", FixedPointDot(col("cqv"), col("cqv")))
      .localCheckpoint(eager = false) // feeds encode + query tables
  }

  /** PQ-compressed ANN top-k, the memory-bounded scale path the IVF/LSH
    * family lacks: at billions of vectors neither the raw corpus (256 B+
    * per vector) nor a flat bucket index fits executor memory, but PQ
    * codes do — [[PqM]] single-byte codes per vector (64× smaller), with
    * all distance arithmetic done against a broadcast codebook.
    *
    * Shape (all exact BIGINT fixed-point, bit-identical to the oracle):
    * 1. TRAIN: each 64-dim vector splits into [[PqM]] 16-dim sub-vectors;
    *    per subspace a [[PqK]]-cell codebook is Lloyd-trained (1 round,
    *    seeds = the k smallest vec_ids — the [[lloydCentroids]] doctrine,
    *    truncated-mean updates, `div` ≡ DuckDB `//`). Assignment metric is
    *    squared L2 via the monotone surrogate ‖c‖² − 2·x·c (x's own norm
    *    is constant per x), argmin tie-broken to the smallest c_id.
    * 2. ENCODE: one map-side pass — the packed per-subspace codebook
    *    crossJoins in as a PqM-row broadcast, [[FixedPointDotMulti]] gives
    *    all k dots at once, the code is array arithmetic; codes regroup to
    *    one row per vector (the one corpus shuffle, 4 longs per row).
    * 3. ADC SCORE: each query precomputes a k-entry lookup table per
    *    subspace (again vs the broadcast codebook); approximate distance
    *    is 4 table lookups + adds per corpus vector — no vector arithmetic
    *    touches the corpus at query time. Lookups go through
    *    array_position on the c_id-sorted codebook row, so a Lloyd cell
    *    that loses every member (possible only with duplicate seed
    *    vectors) cannot misalign code→table-slot.
    * 4. RERANK: the top-[[PqShortlist]] ADC candidates per query join back
    *    their full vectors for EXACT squared-L2 scoring; final rank keeps
    *    [[PqTopK]]. This two-stage retrieve-then-rerank is the production
    *    PQ serving shape: exact arithmetic on a per-query-constant row
    *    count, approximate on the corpus.
    *
    * Per-query ranking windows partition by query_id (the
    * [[sim_bruteforce_topk]] shape): distributed across queries, never a
    * global single-task sort. */
  lazy val pqTopkQuery: GraftQuery = {
    val dotSql = "CAST(list_sum(list_transform(list_zip(%s, %s), p -> p[1] * p[2])) AS BIGINT)"
    val codeCases = (0 until PqM).map(m =>
      if (m < PqM - 1) s"WHEN $m THEN c.code$m" else s"ELSE c.code$m").mkString(" ")
    val codeCols = (0 until PqM).map(m =>
      s"MAX(CASE WHEN m = $m THEN c_id END) AS code$m").mkString(",\n    ")
    q("sim_pq_topk",
      s"""WITH $quantizedSql,
         |subs AS (
         |  SELECT vec_id, label, t.m AS m,
         |    qv[t.m * $PqSubDim + 1 : t.m * $PqSubDim + $PqSubDim] AS sv
         |  FROM qn, range(0, $PqM) AS t(m)),
         |cb0 AS (
         |  SELECT m, vec_id AS c_id, sv AS cqv,
         |    CAST(list_sum(list_transform(sv, x -> x * x)) AS BIGINT) AS cnorm2
         |  FROM subs WHERE vec_id IN (SELECT DISTINCT vec_id FROM subs ORDER BY vec_id LIMIT $PqK)),
         |a1 AS (
         |  SELECT s.vec_id, s.m, s.sv, cb.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.m
         |    ORDER BY cb.cnorm2 - 2 * ${dotSql.format("s.sv", "cb.cqv")}, cb.c_id) AS cr
         |  FROM subs s JOIN cb0 cb USING (m)),
         |cb1 AS (
         |  SELECT m, c_id, list(s // n ORDER BY pos) AS cqv
         |  FROM (SELECT m, c_id, t.i AS pos, CAST(SUM(sv[t.i + 1]) AS BIGINT) AS s,
         |          COUNT(*) AS n
         |        FROM a1, range(0, $PqSubDim) AS t(i) WHERE cr = 1 GROUP BY m, c_id, t.i)
         |  GROUP BY m, c_id),
         |cbn AS (
         |  SELECT m, c_id, cqv,
         |    CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cnorm2
         |  FROM cb1),
         |enc AS (
         |  SELECT s.vec_id, s.label, s.m, cb.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.m
         |    ORDER BY cb.cnorm2 - 2 * ${dotSql.format("s.sv", "cb.cqv")}, cb.c_id) AS cr
         |  FROM subs s JOIN cbn cb USING (m)),
         |codes AS (
         |  SELECT vec_id, MIN(label) AS label,
         |    $codeCols
         |  FROM enc WHERE cr = 1 GROUP BY vec_id),
         |tabs AS (
         |  SELECT s.vec_id AS query_id, s.m,
         |    list(cb.c_id ORDER BY cb.c_id) AS cids,
         |    list(cb.cnorm2 - 2 * ${dotSql.format("s.sv", "cb.cqv")} ORDER BY cb.c_id) AS tvals
         |  FROM subs s JOIN cbn cb USING (m)
         |  WHERE s.vec_id % 50 = 0 GROUP BY 1, 2),
         |scored AS (
         |  SELECT t.query_id, c.vec_id, c.label,
         |    CAST(SUM(t.tvals[list_position(t.cids,
         |      CASE t.m $codeCases END)]) AS BIGINT) AS adc_dist
         |  FROM codes c, tabs t WHERE c.vec_id <> t.query_id
         |  GROUP BY 1, 2, 3),
         |short AS (
         |  SELECT query_id, vec_id, label, adc_dist, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_dist, vec_id) AS arank
         |  FROM scored),
         |rer AS (
         |  SELECT sh.query_id, sh.vec_id, sh.label, sh.adc_dist,
         |    q.norm2 - 2 * ${dotSql.format("q.qv", "c.qv")} + c.norm2 AS l2_dist
         |  FROM short sh
         |  JOIN qn q ON q.vec_id = sh.query_id
         |  JOIN qn c ON c.vec_id = sh.vec_id
         |  WHERE sh.arank <= $PqShortlist),
         |ranked AS (
         |  SELECT query_id, vec_id, label, adc_dist, CAST(l2_dist AS BIGINT) AS l2_dist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY l2_dist, vec_id) AS rank
         |  FROM rer)
         |SELECT query_id, vec_id, label, adc_dist, l2_dist, rank
         |FROM ranked WHERE rank <= $PqTopK""".stripMargin) { (s, d) =>
      val qe = quantized(s, d).localCheckpoint(eager = false)
      // 1. sub-vectors: (vec_id, label, m, sv) — a narrow PqM× explode
      val subs = pqSplit(qe, "qv", Seq("vec_id", "label"))
      // 2. one Lloyd round per subspace → packed broadcast codebook
      val cbn = pqTrain(subs)
      val cbRow = pqPacked(cbn)
      // 3. encode: map-side codes, then the ONE corpus shuffle regrouping
      // PqM narrow (vec_id, m, code) rows into a codes row per vector
      val codeCols2 = (0 until PqM).map(m =>
        max(when(col("m") === m, col("code"))).as(s"code$m"))
      val codes = pqAssign(subs, cbRow)
        .select(col("vec_id"), col("label"), col("m"), expr("best.id").as("code"))
        .groupBy(col("vec_id"))
        .agg(min(col("label")).as("label"), codeCols2: _*)
      // 4. per-query ADC lookup tables vs the same broadcast codebook
      val tabCols = (0 until PqM).flatMap(m => Seq(
        max(when(col("m") === m, col("cids"))).as(s"cids$m"),
        max(when(col("m") === m, col("tvals"))).as(s"tvals$m")))
      val qtabs = pqAssign(subs.filter(col("vec_id") % 50 === 0), cbRow)
        .withColumn("tvals", expr("zip_with(cnorms, dots, (cn, dd) -> cn - 2 * dd)"))
        .groupBy(col("vec_id").as("query_id"))
        .agg(tabCols.head, tabCols.tail: _*)
      // 5. ADC scoring: 4 table lookups per (query, vector) — map-side
      // against the broadcast query tables; shortlist per query
      val adcExpr = (0 until PqM).map(m =>
        expr(s"element_at(tvals$m, CAST(array_position(cids$m, code$m) AS INT))"))
        .reduce(_ + _)
      val scored = codes
        .join(broadcast(qtabs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("label"), adcExpr.as("adc_dist"))
      val short = scored
        .withColumn("arank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("adc_dist"), col("vec_id"))))
        .filter(col("arank") <= PqShortlist)
      // 6. exact rerank of the per-query-constant shortlist
      val qvecs = qe.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("norm2").as("qnorm2"))
      val cvecs = qe.select(col("vec_id"), col("qv").as("cqv2"), col("norm2").as("cnorm2c"))
      // the SHORTLIST broadcasts (≤ PqShortlist rows per query), so the
      // exact rerank is a map-side pass over the vector store — no
      // corpus-sized shuffle anywhere in the probe
      cvecs
        .join(broadcast(short), "vec_id")
        .join(broadcast(qvecs), "query_id")
        .select(col("query_id"), col("vec_id"), col("label"), col("adc_dist"),
          (col("qnorm2") - lit(2) * FixedPointDot(col("qqv"), col("cqv2")) + col("cnorm2c"))
            .as("l2_dist"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("l2_dist"), col("vec_id"))))
        .filter(col("rank") <= PqTopK)
    }
  }

  /** Embedding-level benchmark DECONTAMINATION: the semantic twin of the
    * shingle-overlap `decontaminate` query ([[TrainingPipeline]]) —
    * paraphrased or reformatted eval leakage shares no 14-char shingles
    * but still sits at high embedding cosine. The vec_id % 7 slice
    * stands in for the benchmark set; any ≥0.4-cosine train↔bench pair
    * flags the TRAIN vector with its neighbor count and worst cosine.
    * Candidates come from the banded multi-probe LSH ([[lshPairs]] — the
    * exact pair machinery the dedup query verifies), so the cross-set
    * check rides the same bucket joins: no new corpus-scale shape, and at
    * 100 TB the bench side is a vanishing fraction of every bucket. */
  lazy val decontEmbQuery: GraftQuery =
    q("decontaminate_embeddings",
      s"""WITH $lshPairsSqlCtes,
         |xpairs AS (
         |  SELECT CASE WHEN v1 % 7 = 0 THEN v2 ELSE v1 END AS vec_id,
         |         cosine
         |  FROM pairs
         |  WHERE cosine >= 0.4 AND ((v1 % 7 = 0) <> (v2 % 7 = 0)))
         |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_bench_neighbors,
         |  MAX(cosine) AS max_cosine
         |FROM xpairs GROUP BY 1""".stripMargin) { (s, d) =>
      val isB1 = col("v1") % 7 === 0
      val isB2 = col("v2") % 7 === 0
      lshPairs(s, d)
        .filter(isB1 =!= isB2)
        .select(when(isB1, col("v2")).otherwise(col("v1")).as("vec_id"), col("cosine"))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_bench_neighbors"), max(col("cosine")).as("max_cosine"))
    }

  /** IVF-PQ (the IVFADC index of Jégou et al., TPAMI 2011 §IV): the
    * billion-scale composition of the two index families this engine
    * already carries separately — coarse IVF cells prune WHICH vectors a
    * query touches, PQ codes on the RESIDUAL (vector − its cell centroid)
    * compress HOW each touched vector is scored. Residual encoding is what
    * makes the composition worth having: residuals concentrate near zero,
    * so the same 40-bit budget quantizes far finer than raw-vector PQ.
    *
    * Pipeline (all exact integers, bit-identical to the oracle):
    * coarse = the [[lloydCentroids]] cosine k-means the IVF queries use
    * (2 rounds, k=8, broadcast assignment); residual = one map-side
    * zip_with subtraction; sub-codebooks = [[pqTrain]] on residual
    * sub-vectors; queries probe their top-3 coarse cells (the
    * dedup_embedding_ivf multi-probe discipline) and build one ADC table
    * per (query, probed cell) from the per-cell query residual — the
    * per-subspace ‖qrₘ‖² term rides inside the table entries so ADC
    * distances stay comparable ACROSS cells. Scoring joins codes to
    * tables on the cell id — the index's own partition key, so at 100 TB
    * the probe never touches un-probed cells (dedup-IVF/VecStore
    * directory-pruning discipline) and per-vector work is [[PqM]] lookups.
    * Shortlist + exact full-vector rerank as in [[pqTopkQuery]]. */
  /** The IVFADC oracle: the full train+encode+probe chain in exact
    * integer SQL, shared verbatim by [[ivfPqTopkQuery]] (inline training)
    * and [[ivfPqProbeQuery]] (probe over the persisted index) — training
    * is deterministic, so both reach the identical result and hash. */
  private[graft] lazy val ivfPqOracle: String = ivfPqOracleFor("TRUE")

  /** [[ivfPqOracle]] parameterized by the SURVIVOR predicate over stored
    * vectors (the RTBF twin's declarative truth): training runs over the
    * FULL corpus — erase does not retrain, the same doctrine as
    * [[graft.sources.VecStoreLog.eraseByIds]] — and the predicate filters
    * only the encoded rows a probe can score; the query set is never
    * filtered (probing for an erased vector's neighbors stays legal). */
  private[graft] def ivfPqOracleFor(survivors: String): String = {
    val dotSql = "CAST(list_sum(list_transform(list_zip(%s, %s), p -> p[1] * p[2])) AS BIGINT)"
    val codeCases = (0 until PqM).map(m =>
      if (m < PqM - 1) s"WHEN $m THEN c.code$m" else s"ELSE c.code$m").mkString(" ")
    val codeCols = (0 until PqM).map(m =>
      s"MAX(CASE WHEN m = $m THEN c_id END) AS code$m").mkString(",\n    ")
    s"""WITH $quantizedSql,
         |${lloydCtes(CentroidIters)},
         |cents AS (SELECT c_id, cqv, cnorm2 FROM c$CentroidIters),
         |ca AS (
         |  SELECT vec_id, label, qv, c_id, cqv AS ccqv, row_number() OVER (
         |    PARTITION BY vec_id
         |    ORDER BY ${dotSql.format("qv", "cqv")}
         |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
         |  FROM qn, cents),
         |rvs AS (
         |  SELECT vec_id, label, c_id AS cell,
         |    list_transform(list_zip(qv, ccqv), p -> p[1] - p[2]) AS rv
         |  FROM ca WHERE cr = 1),
         |subs AS (
         |  SELECT vec_id, label, cell, t.m AS m,
         |    rv[t.m * $PqSubDim + 1 : t.m * $PqSubDim + $PqSubDim] AS sv
         |  FROM rvs, range(0, $PqM) AS t(m)),
         |cb0 AS (
         |  SELECT m, vec_id AS c_id, sv AS cqv,
         |    CAST(list_sum(list_transform(sv, x -> x * x)) AS BIGINT) AS cnorm2
         |  FROM subs WHERE vec_id IN (SELECT DISTINCT vec_id FROM subs ORDER BY vec_id LIMIT $PqK)),
         |pqa1 AS (
         |  SELECT s.vec_id, s.m, s.sv, cb.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.m
         |    ORDER BY cb.cnorm2 - 2 * ${dotSql.format("s.sv", "cb.cqv")}, cb.c_id) AS cr
         |  FROM subs s JOIN cb0 cb USING (m)),
         |cb1 AS (
         |  SELECT m, c_id, list(s // n ORDER BY pos) AS cqv
         |  FROM (SELECT m, c_id, t.i AS pos, CAST(SUM(sv[t.i + 1]) AS BIGINT) AS s,
         |          COUNT(*) AS n
         |        FROM pqa1, range(0, $PqSubDim) AS t(i) WHERE cr = 1 GROUP BY m, c_id, t.i)
         |  GROUP BY m, c_id),
         |cbn AS (
         |  SELECT m, c_id, cqv,
         |    CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cnorm2
         |  FROM cb1),
         |enc AS (
         |  SELECT s.vec_id, s.label, s.cell, s.m, cb.c_id, row_number() OVER (
         |    PARTITION BY s.vec_id, s.m
         |    ORDER BY cb.cnorm2 - 2 * ${dotSql.format("s.sv", "cb.cqv")}, cb.c_id) AS cr
         |  FROM subs s JOIN cbn cb USING (m)),
         |codes AS (
         |  SELECT vec_id, MIN(label) AS label, MIN(cell) AS cell,
         |    $codeCols
         |  FROM enc WHERE cr = 1 AND ($survivors) GROUP BY vec_id),
         |qp AS (
         |  SELECT vec_id, qv, c_id, cqv AS ccqv, row_number() OVER (
         |    PARTITION BY vec_id
         |    ORDER BY ${dotSql.format("qv", "cqv")}
         |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
         |  FROM qn, cents WHERE vec_id % 50 = 0),
         |qrs AS (
         |  SELECT vec_id AS query_id, c_id AS pcell,
         |    list_transform(list_zip(qv, ccqv), p -> p[1] - p[2]) AS rv
         |  FROM qp WHERE cr <= 3),
         |qsubs AS (
         |  SELECT query_id, pcell, t.m AS m,
         |    rv[t.m * $PqSubDim + 1 : t.m * $PqSubDim + $PqSubDim] AS sv
         |  FROM qrs, range(0, $PqM) AS t(m)),
         |tabs AS (
         |  SELECT q.query_id, q.pcell, q.m,
         |    list(cb.c_id ORDER BY cb.c_id) AS cids,
         |    list(cb.cnorm2 - 2 * ${dotSql.format("q.sv", "cb.cqv")}
         |         + CAST(list_sum(list_transform(q.sv, x -> x * x)) AS BIGINT)
         |         ORDER BY cb.c_id) AS tvals
         |  FROM qsubs q JOIN cbn cb USING (m) GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT t.query_id, c.vec_id, c.label,
         |    CAST(SUM(t.tvals[list_position(t.cids,
         |      CASE t.m $codeCases END)]) AS BIGINT) AS adc_dist
         |  FROM codes c JOIN tabs t ON t.pcell = c.cell AND c.vec_id <> t.query_id
         |  GROUP BY 1, 2, 3),
         |short AS (
         |  SELECT query_id, vec_id, label, adc_dist, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adc_dist, vec_id) AS arank
         |  FROM scored),
         |rer AS (
         |  SELECT sh.query_id, sh.vec_id, sh.label, sh.adc_dist,
         |    q.norm2 - 2 * ${dotSql.format("q.qv", "c.qv")} + c.norm2 AS l2_dist
         |  FROM short sh
         |  JOIN qn q ON q.vec_id = sh.query_id
         |  JOIN qn c ON c.vec_id = sh.vec_id
         |  WHERE sh.arank <= $PqShortlist),
         |ranked AS (
         |  SELECT query_id, vec_id, label, adc_dist, CAST(l2_dist AS BIGINT) AS l2_dist,
         |    row_number() OVER (PARTITION BY query_id ORDER BY l2_dist, vec_id) AS rank
         |  FROM rer)
         |SELECT query_id, vec_id, label, adc_dist, l2_dist, rank
         |FROM ranked WHERE rank <= $PqTopK""".stripMargin
  }

  /** Trained IVFADC artifacts over the corpus at `d`: coarse cells
    * (c_id, cqv, cnorm2), per-subspace residual codebook (m, c_id, cqv,
    * cnorm2), the PACKED per-subspace codebook row (shared by encode and
    * probe so the pack job runs once), the unpacked codebook, the encoded
    * corpus (vec_id, label, cell, code0..codeM), and the quantized vector
    * frame the training ran on (reused by the probe for queries and exact
    * rerank) — as (qe, cents, cbRow, cbn, codes). */
  private def ivfPqTrainFrames(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) =
    ivfPqTrainFramesFrom(quantized(s, d))

  /** Train the IVFADC artifacts from an already-quantized corpus frame
    * (vec_id, label, qv, norm2) — the entry the MAINTAINED index
    * ([[graft.sources.IvfPqLog]]) retrains through at each fold, where
    * the corpus is base ∪ delta rather than a table read. `coarseK`
    * defaults to the fixed oracle geometry; the maintained store's folds
    * pass the √n-derived count ([[graft.sources.IvfPqLog.coarseKFor]]). */
  private[graft] def ivfPqTrainFramesFrom(qe0: DataFrame,
      coarseK: Int = CentroidK): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
      val qe = qe0.localCheckpoint(eager = false)
      // coarse cells: the IVF family's cosine Lloyd, assignment map-side
      val cents = lloydCentroids(qe, coarseK, CentroidIters)
      val centPick = "cqvs[CAST(array_position(cids, ranked[0].id) AS INT) - 1]"
      val resid = assignRanked(qe, cents)
        .select(col("vec_id"), col("label"),
          expr("ranked[0].id").as("cell"),
          expr(s"zip_with(qv, $centPick, (x, c) -> x - c)").as("rv"))
        .localCheckpoint(eager = false) // feeds sub-codebook train + encode
      val subs = pqSplit(resid, "rv", Seq("vec_id", "label", "cell"))
      val cbn = pqTrain(subs)
      val cbRow = pqPacked(cbn)
      // encode: map-side residual codes + the cell id, one narrow regroup
      val codeCols2 = (0 until PqM).map(m =>
        max(when(col("m") === m, col("code"))).as(s"code$m"))
      val codes = pqAssign(subs, cbRow)
        .select(col("vec_id"), col("label"), col("cell"), col("m"),
          expr("best.id").as("code"))
        .groupBy(col("vec_id"))
        .agg(min(col("label")).as("label"), (min(col("cell")).as("cell") +: codeCols2): _*)

    (qe, cents, cbRow, cbn, codes)
  }

  /** The probe side only: queries rank the coarse codebook, build one ADC
    * table per (query, probed cell), score codes joined ON THE CELL ID,
    * shortlist, exact rerank. `codes` may be the freshly-encoded frame or
    * the partitioned parquet index read back — the cell join prunes
    * un-probed cells either way. */
  private[graft] def ivfPqProbeFrom(centsPacked: DataFrame, cbRow: DataFrame,
      codes: DataFrame, vecs: DataFrame,
      queryVecs: Option[DataFrame] = None,
      probeCells: Int = 3, shortlist: Int = PqShortlist): DataFrame = {
      // queries: top-`probeCells` probed cells (default = the fixed
      // oracle geometry's 3), one residual per probed cell — by
      // default the query set and the rerank vectors both come from
      // `vecs`, so the persisted-index probe never touches anything but
      // index artifacts; an RTBF caller passes the query set explicitly
      // (erased vectors leave the STORE, never the right to query)
      val qsrc = queryVecs.getOrElse(vecs.filter(col("vec_id") % 50 === 0))
      val qprobe = assignRankedPacked(qsrc, centsPacked)
        .select(col("vec_id").as("query_id"), col("qv"), col("cids"), col("cqvs"),
          explode(expr(s"slice(ranked, 1, $probeCells)")).as("pr"))
        .select(col("query_id"), col("pr.id").as("pcell"),
          expr("zip_with(qv, cqvs[CAST(array_position(cids, pr.id) AS INT) - 1], (x, c) -> x - c)")
            .as("rv"))
      val qsubs = pqSplit(qprobe, "rv", Seq("query_id", "pcell"))
      // ADC tables per (query, probed cell); the per-subspace ‖qrₘ‖² term
      // keeps distances comparable across cells
      val tabCols = (0 until PqM).flatMap(m => Seq(
        max(when(col("m") === m, col("cids"))).as(s"cids$m"),
        max(when(col("m") === m, col("tvals"))).as(s"tvals$m")))
      val qtabs = qsubs.join(broadcast(cbRow), "m")
        .withColumn("dots", graft.functions.FixedPointDotMulti(col("sv"), col("cqvs")))
        .withColumn("srm", FixedPointDot(col("sv"), col("sv")))
        .withColumn("tvals", expr("zip_with(cnorms, dots, (cn, dd) -> cn - 2 * dd + srm)"))
        .groupBy(col("query_id"), col("pcell"))
        .agg(tabCols.head, tabCols.tail: _*)
      // scoring: codes ⋈ tables ON THE CELL ID — un-probed cells never join
      val adcExpr = (0 until PqM).map(m =>
        expr(s"element_at(tvals$m, CAST(array_position(cids$m, code$m) AS INT))"))
        .reduce(_ + _)
      val scored = codes
        .join(broadcast(qtabs),
          col("cell") === col("pcell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("label"), adcExpr.as("adc_dist"))
      val short = scored
        .withColumn("arank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("adc_dist"), col("vec_id"))))
        .filter(col("arank") <= shortlist)
      val qvecs = qsrc
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("norm2").as("qnorm2"))
      val cvecs = vecs.select(col("vec_id"), col("qv").as("cqv2"), col("norm2").as("cnorm2c"))
      short
        .join(broadcast(qvecs), "query_id")
        .join(cvecs, "vec_id")
        .select(col("query_id"), col("vec_id"), col("label"), col("adc_dist"),
          (col("qnorm2") - lit(2) * FixedPointDot(col("qqv"), col("cqv2")) + col("cnorm2c"))
            .as("l2_dist"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("l2_dist"), col("vec_id"))))
        .filter(col("rank") <= PqTopK)
  }

  /** IVF-PQ (the IVFADC index of Jégou et al., TPAMI 2011 §IV): the
    * billion-scale composition of the two index families this engine
    * already carries separately — coarse IVF cells prune WHICH vectors a
    * query touches, PQ codes on the RESIDUAL (vector − its cell centroid)
    * compress HOW each touched vector is scored. Residual encoding is what
    * makes the composition worth having: residuals concentrate near zero,
    * so the same 40-bit budget quantizes far finer than raw-vector PQ.
    *
    * Pipeline (all exact integers, bit-identical to the oracle):
    * coarse = the [[lloydCentroids]] cosine k-means the IVF queries use
    * (2 rounds, k=8, broadcast assignment); residual = one map-side
    * zip_with subtraction; sub-codebooks = [[pqTrain]] on residual
    * sub-vectors; queries probe their top-3 coarse cells (the
    * dedup_embedding_ivf multi-probe discipline) and build one ADC table
    * per (query, probed cell) from the per-cell query residual — the
    * per-subspace ‖qrₘ‖² term rides inside the table entries so ADC
    * distances stay comparable ACROSS cells. Scoring joins codes to
    * tables on the cell id — the index's own partition key, so at 100 TB
    * the probe never touches un-probed cells (dedup-IVF/VecStore
    * directory-pruning discipline) and per-vector work is [[PqM]] lookups.
    * Shortlist + exact full-vector rerank as in [[pqTopkQuery]].
    * This registered query trains INLINE (build+probe end-to-end);
    * [[ivfPqProbeQuery]] is the amortized-training twin. */
  lazy val ivfPqTopkQuery: GraftQuery =
    q("sim_ivfpq_topk", ivfPqOracle) { (s, d) =>
      val (qe, cents, cbRow, _, codes) = ivfPqTrainFrames(s, d)
      ivfPqProbeFrom(centsRow(cents), cbRow, codes, qe)
    }

  /** Per-JVM scratch root for the persisted IVFADC index — unique per
    * process so concurrent JVMs never race, removed at JVM exit. */
  private lazy val ivfPqRoot: String =
    s"${sys.props("java.io.tmpdir")}/graft_ivfpq_idx/${java.util.UUID.randomUUID()}"
  private val ivfPqBuilt = scala.collection.mutable.Map.empty[String, String]

  /** Build-once-per-(JVM, dataset): train the IVFADC index and PERSIST it
    * — coarse cells + sub-codebooks as tiny parquet, the encoded corpus
    * partitioned by its coarse cell id (so the probe's cell join prunes
    * at the DIRECTORY level, the VecStore layout applied to codes).
    * Subsequent calls return the existing index untouched. */
  private def ivfPqIndexDir(s: SparkSession, d: String): String =
    ivfPqBuilt.synchronized {
      ivfPqBuilt.getOrElseUpdate(d, {
        val dir = s"$ivfPqRoot/${new java.io.File(d).getName}"
        val path = new org.apache.hadoop.fs.Path(dir)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
        val (qe, cents, cbRow, _, codes) = ivfPqTrainFrames(s, d)
        // tiny artifacts are persisted PRE-PACKED (one broadcastable row /
        // PqM rows) so the probe loads them without any collect/pack job;
        // the unpacked cells stay alongside for inspection
        cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/cells")
        centsRow(cents).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/cells_packed")
        cbRow.coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/codebooks_packed")
        val n = s.sessionState.conf.numShufflePartitions
        codes.repartition(n, col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
        // the quantized vector store (vec_id, label, qv, norm2): queries
        // and the exact rerank read THIS, not the live table — the probe
        // is self-contained against the index directory
        qe.repartition(n).write.mode("overwrite").parquet(s"$dir/vectors")
        dir
      })
    }

  /** The amortized-training IVFADC twin — the honest 100 TB shape, where
    * training is an OFFLINE index build and the query-time cost is probe
    * only: load the persisted coarse cells + sub-codebooks (tiny
    * broadcasts) and the cell-partitioned code index, then run
    * [[ivfPqProbeFrom]]. First call in a process pays the one-time build
    * (bench's min-of-reps reports the steady probe-only state); results
    * and oracle are IDENTICAL to [[ivfPqTopkQuery]] because training is
    * deterministic — the split moves work, it cannot move answers. */
  lazy val ivfPqProbeQuery: GraftQuery =
    q("sim_ivfpq_probe_topk", ivfPqOracle) { (s, d) =>
      val dir = ivfPqIndexDir(s, d)
      ivfPqProbeFrom(
        Tables.cachedParquet(s, s"$dir/cells_packed"),
        Tables.cachedParquet(s, s"$dir/codebooks_packed"),
        Tables.cachedParquet(s, s"$dir/codes"),
        Tables.cachedParquet(s, s"$dir/vectors"))
    }

  /** Threshold-sensitivity evidence: the all-pairs cosine distribution in
    * 0.05-wide bins — the table a curator reads before picking τ (how many
    * pairs a given dedup threshold sweeps in, and how sharply the tail
    * decays). Verification-scale all-pairs (the same broadcast-bounded
    * BNLJ as the exact ground truth); the histogram itself is a tiny
    * map-side-combinable aggregate. */
  lazy val cosineHistogramQuery: GraftQuery =
    q("emb_cosine_histogram",
      s"""WITH $quantizedSql,
         |pairs AS (
         |  SELECT CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
         |  FROM qn a JOIN qn b ON a.vec_id < b.vec_id)
         |SELECT CAST(floor(cosine * 20) AS BIGINT) AS bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs GROUP BY 1""".stripMargin) { (s, d) =>
      val qe = quantized(s, d)
      qe.as("a").join(broadcast(qe.as("b")), col("a.vec_id") < col("b.vec_id"))
        .select((dot("a.qv", "b.qv").cast("double")
          / (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))))
          .as("cosine"))
        .select(floor(col("cosine") * 20).cast("long").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"))
    }

  /** Retrieval-quality EVALUATION as a first-class query: the banded
    * multi-probe LSH pair set scored against the exact all-pairs ground
    * truth — one row of exact-integer counts and ppm precision/recall.
    * The quality numbers the spec suite asserts become part of the
    * oracle-checked surface itself (both engines must agree on the exact
    * confusion counts, not just on the pair lists). LSH is verified
    * (precision 1.0 by construction — every reported pair passed the
    * exact cosine) so n_lsh = n_common always; the query still computes
    * both sides from first principles rather than assuming it. */
  lazy val lshRecallEvalQuery: GraftQuery =
    q("dedup_lsh_recall_eval",
      s"""WITH $lshPairsSqlCtes,
         |truth AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2
         |  FROM qn a JOIN qn b ON a.vec_id < b.vec_id
         |  WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) >= 0.4),
         |m AS (
         |  SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM epairs) AS n_lsh,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM epairs e
         |       JOIN truth t ON e.v1 = t.v1 AND e.v2 = t.v2) AS n_common)
         |SELECT n_truth, n_lsh, n_common,
         |  n_common * 1000000 // n_truth AS recall_ppm,
         |  n_common * 1000000 // n_lsh AS precision_ppm
         |FROM m""".stripMargin) { (s, d) =>
      val qe = quantized(s, d)
      val truth = qe.as("a")
        .join(broadcast(qe.as("b")), col("a.vec_id") < col("b.vec_id"))
        .filter((dot("a.qv", "b.qv").cast("double")
          / (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))))
          >= 0.4)
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
        .localCheckpoint(eager = false)
      val lsh = lshPairs(s, d).select(col("v1"), col("v2"))
        .localCheckpoint(eager = false)
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val nLsh = lsh.agg(count(lit(1)).as("n_lsh"))
      val nCommon = lsh.join(truth, Seq("v1", "v2"))
        .agg(count(lit(1)).as("n_common"))
      nTruth.crossJoin(broadcast(nLsh)).crossJoin(broadcast(nCommon))
        .select(col("n_truth"), col("n_lsh"), col("n_common"),
          expr("n_common * 1000000 div n_truth").as("recall_ppm"),
          expr("n_common * 1000000 div n_lsh").as("precision_ppm"))
    }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication end-to-end —
    * embedding near-dup PAIRS (the banded multi-probe LSH, [[lshPairs]])
    * resolved into connected components, one keeper per semantic cluster
    * (the min vec_id), singletons keep themselves. Components go through
    * [[Dedup.clusterLabelsAuto]] (r15): the measured sf0.1 pair graph is
    * ~1-2 K edges, where EVERY distributed resolver is stage-barrier
    * bound (min-label's diameter-16 hop rounds profiled as ~80 of this
    * query's 122 sequential jobs at ~45 ms each; stars measured 6.8-8 s)
    * — the chooser's driver union-find regime resolves it in
    * microseconds and re-enters the plan as a broadcast. At real pair
    * volume the chooser routes to the distributed resolvers unchanged.
    * This operator turns a pair list into an actionable keep/drop verdict
    * per vector; at 100 TB the pair graph is ≪ corpus (only verified ≥τ
    * pairs), so the iterative frames the rounds shuffle are tiny even
    * when the corpus is not. */
  lazy val semanticKeepQuery: GraftQuery =
    q("dedup_semantic_keep",
      s"""WITH RECURSIVE $lshPairsSqlCtes,
         |edges AS (
         |  SELECT v1 AS src, v2 AS dst FROM epairs
         |  UNION ALL SELECT v2, v1 FROM epairs),
         |reach(node, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
         |labels AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
         |labeled AS (
         |  SELECT q.vec_id, COALESCE(l.label, q.vec_id) AS cluster_keeper
         |  FROM qn q LEFT JOIN labels l ON q.vec_id = l.node)
         |SELECT vec_id, CAST(cluster_keeper AS BIGINT) AS cluster_keeper,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_keeper) AS BIGINT) AS cluster_size,
         |  vec_id = cluster_keeper AS keep
         |FROM labeled""".stripMargin) { (s, d) =>
      val pairs = lshPairs(s, d).select(col("v1").as("d1"), col("v2").as("d2"))
      val labels = Dedup.clusterLabelsAuto(pairs)
      val w = Window.partitionBy(col("cluster_keeper"))
      quantized(s, d).select(col("vec_id"))
        .join(labels.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("label"), col("vec_id")).as("cluster_keeper"))
        .select(col("vec_id"), col("cluster_keeper"),
          count(lit(1)).over(w).cast("long").as("cluster_size"),
          (col("vec_id") === col("cluster_keeper")).as("keep"))
    }

  /** Embedding-space OUTLIER filter: each vector's cosine to its own
    * label's centroid, flagged when it falls below threshold — the "drop
    * docs far from their cluster center" curation op (mislabeled /
    * off-distribution detection). Shape: ONE 64-column map-side-combinable
    * aggregate builds the per-label centroids (exact integer truncated
    * means, the Lloyd-update arithmetic without the iteration), which
    * broadcast
    * back for a map-side cosine — the corpus is scanned twice and shuffled
    * never (the centroid agg moves \|labels\|×64 longs). */
  lazy val centroidOutlierQuery: GraftQuery =
    q("emb_centroid_outliers",
      s"""WITH $quantizedSql,
         |m AS (
         |  SELECT label, t.i AS pos, CAST(SUM(qv[t.i + 1]) AS BIGINT) AS sv, COUNT(*) AS n
         |  FROM qn, range(0, 64) AS t(i) GROUP BY label, t.i),
         |cents AS (
         |  SELECT label, cqv,
         |    CAST(list_sum(list_transform(cqv, x -> x * x)) AS BIGINT) AS cnorm2
         |  FROM (SELECT label, list(sv // n ORDER BY pos) AS cqv FROM m GROUP BY label)),
         |scored AS (
         |  SELECT q.vec_id, q.label,
         |    CAST(list_sum(list_transform(list_zip(q.qv, c.cqv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(q.norm2 AS DOUBLE)) * sqrt(CAST(c.cnorm2 AS DOUBLE))) AS cosine_centroid
         |  FROM qn q JOIN cents c USING (label))
         |SELECT vec_id, label, cosine_centroid,
         |  cosine_centroid < 0.0 AS is_outlier
         |FROM scored""".stripMargin) { (s, d) =>
      val qe = quantized(s, d)
      // element-wise integer sums as 64 codegen'd columns in one hash agg
      // (the lloydCentroids update shape); Spark `div` ≡ DuckDB `//`
      // (both truncate toward zero — negative sums included)
      val dimSums = (0 until 64).map(i => sum(col("qv")(i)).as(s"s$i"))
      val cents = qe
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), dimSums: _*)
        .select(col("label"),
          array((0 until 64).map(i => expr(s"s$i div n")): _*).as("cqv"))
        .withColumn("cnorm2", FixedPointDot(col("cqv"), col("cqv")))
      qe.join(broadcast(cents), Seq("label"))
        .select(col("vec_id"), col("label"),
          (FixedPointDot(col("qv"), col("cqv")).cast("double")
            / (sqrt(col("norm2").cast("double")) * sqrt(col("cnorm2").cast("double"))))
            .as("cosine_centroid"))
        .withColumn("is_outlier", col("cosine_centroid") < 0.0)
    }

  /** Diversity (coreset) sampling: ONE representative per sign-LSH bucket
    * — the cheap distributed stand-in for k-center selection when curating
    * "spread" fine-tuning sets. Each vector's bucket is its 8 hyperplane
    * sign bits (map-side, no candidate joins at all); the representative
    * is the min vec_id so selection is deterministic. At 100 TB this is a
    * single map-side-combinable aggregate keyed by a 1-byte bucket —
    * contrast with true k-center's inherently sequential greedy passes. */
  lazy val diversityQuery: GraftQuery =
    q("sample_diverse_embeddings", {
      val planes0 = planes
      val bitsSql = planes0.zipWithIndex.map { case (w, p) =>
        val lit = w.mkString("[", ", ", "]")
        s"(CASE WHEN CAST(list_sum(list_transform(list_zip(qv, $lit), p -> p[1] * p[2])) AS BIGINT) > 0 THEN ${1 << p} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH $quantizedSql,
         |bucketed AS (SELECT vec_id, CAST($bitsSql AS BIGINT) AS bucket FROM qn)
         |SELECT bucket,
         |  CAST(MIN(vec_id) AS BIGINT) AS rep_vec_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_vectors
         |FROM bucketed GROUP BY 1""".stripMargin
    }) { (s, d) =>
      quantized(s, d)
        .select(col("vec_id"),
          graft.functions.PlaneSignMask(col("qv"), 8).as("bucket"))
        .groupBy(col("bucket"))
        .agg(min(col("vec_id")).as("rep_vec_id"),
          count(lit(1)).as("n_vectors"))
    }

  /** IVF multi-probe threshold-dedup — the cluster-shaped alternative to
    * [[dedupLshQuery]]: every vector is assigned to its 3 nearest
    * Lloyd-trained centroid cells ([[lloydCentroids]]), candidates are
    * pairs sharing ANY cell, then exact verification. For clustered
    * corpora (this one: 10 label clusters) multi-probe IVF buys strong
    * recall in the low-cosine regime — measured ≈0.95 — at candidate
    * volume proportional to cell occupancy. Same plan skeleton as
    * [[ivfQuery]]: broadcast centroids, map-side assignment, cell-bucket
    * join only. */
  val dedupIvfQuery: GraftQuery =
    q("dedup_embedding_ivf",
      s"""WITH $quantizedSql,
         |${lloydCtes(CentroidIters)},
         |cents AS (SELECT c_id, cqv, cnorm2 FROM c$CentroidIters),
         |assigned AS (
         |  SELECT vec_id, c_id, row_number() OVER (
         |    PARTITION BY vec_id
         |    ORDER BY CAST(list_sum(list_transform(list_zip(qv, cqv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
         |  FROM qn, cents),
         |cells AS (SELECT vec_id, c_id AS cell FROM assigned WHERE cr <= 3),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
         |  FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id),
         |pairs AS (
         |  SELECT v1, v2,
         |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
         |  FROM cand JOIN qn a ON v1 = a.vec_id JOIN qn b ON v2 = b.vec_id)
         |SELECT v1, v2, cosine FROM pairs WHERE cosine >= 0.4""".stripMargin) { (s, d) =>
      // localCheckpoint (GC-scoped), not cache: see Dedup.minhashPairs
      val qe = quantized(s, d).localCheckpoint(eager = false)
      val cents = lloydCentroids(qe, CentroidK, CentroidIters)
      // top-3 probe cells map-side from the fused ranking — no window —
      // with qv/norm2 carried along so verification runs inline on the
      // cell join's output (same doctrine as dedup_embedding_lsh: no
      // candidate-id distinct, no lookup joins; dedup the verified pairs)
      val cells = assignRanked(qe, cents)
        .select(col("vec_id"), col("qv"), col("norm2"),
          explode(expr("slice(ranked, 1, 3)")).as("r"))
        .select(col("vec_id"), col("qv"), col("norm2"), col("r.id").as("cell"))
      cells.as("x")
        .join(cells.as("y"),
          col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
          (dot("x.qv", "y.qv").cast("double")
            / (sqrt(col("x.norm2").cast("double")) * sqrt(col("y.norm2").cast("double"))))
            .as("cosine"))
        .filter(col("cosine") >= 0.4)
        .distinct()
    }

  /** Bucketed embedding threshold-dedup — the scale twin of
    * `dedup_embedding_cosine` (which stays as the quadratic ground truth,
    * the same role exact Jaccard plays for MinHash-LSH). Candidates come
    * ONLY from band-bucket equality joins over [[DedupBands]] bands of
    * [[DedupBits]] hyperplane sign bits (OR-amplified across bands), then
    * every candidate is verified by the exact fixed-point cosine — so
    * reported pairs are always true pairs (precision 1.0) and recall is
    * what the bands bought.
    *
    * MULTI-PROBE (Lv et al., "Multi-Probe LSH", VLDB 2007): each vector
    * also probes the [[DedupBits]] one-bit-flip neighbors of its band key,
    * joined against the exact-key side. A pair becomes a candidate when
    * its band keys differ by ≤ 1 bit in ANY band, lifting per-band hit
    * probability from p³ to p³ + 3p²(1−p) at probe volume ×4.
    *
    * Regime note, measured on this corpus: the planted pairs sit at
    * cosine 0.40-0.51 (angle ≈ 60-66°, per-hyperplane agreement only
    * ≈ 0.63), the hardest regime for sign-LSH — exact-key 8×3 bands gave
    * ≈ 0.78 recall; with one-bit multi-probe the per-band hit is ≈ 0.69
    * and the 8-band miss probability ≈ (0.31)⁸ ≈ 1e-4 — measured recall
    * ≥ 0.95 (LlmSpec asserts ≥ 0.9). Production embedding dedup targets
    * τ ≥ 0.9 (agreement 0.86) where pruning is far sharper. The
    * deliverable is the plan shape: the only joins are bucket-equality on
    * (band, key) + the verify lookups — no all-pairs theta-join anywhere,
    * so cost tracks candidate volume, not n².
    *
    * Measured alternative (rejected): 16 exact bands without probes —
    * same asymptotic recall on paper, but runtime did NOT improve (the
    * map-side banding cost is 48 plane dots/row vs 24; the hot cost is
    * banding, not the candidate join at this corpus size) and measured
    * pairs dropped 907 → 815. Multi-probe kept.
    *
    * Second measured alternative (rejected, r5): 8×4-bit bands with
    * 5-key multi-probe — steady-state runtime unchanged (~2.3 s sf0.1;
    * the 5× probe rows offset the 2× smaller buckets) and recall lost a
    * pair at sf0.01 (59 → 58). The 8×3-bit / 4-probe geometry stands. */
  /** Oracle CTE chain ending in `epairs(v1, v2)` — the verified ≥0.4-cosine
    * near-dup pair set of the banded multi-probe LSH (shared by
    * `dedup_embedding_lsh` and the SemDeDup cluster query). */
  private lazy val lshPairsSqlCtes: String = {
    val bandSelects = (0 until DedupBands).map { t =>
      val keySql = (0 until DedupBits).map { r =>
        val lit = dedupPlanes(t * DedupBits + r).mkString("[", ", ", "]")
        s"(CASE WHEN CAST(list_sum(list_transform(list_zip(qv, $lit), p -> p[1] * p[2])) AS BIGINT) > 0 THEN ${1 << r} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS band, $keySql AS key FROM qn"
    }.mkString("\n  UNION ALL ")
    s"""$quantizedSql,
       |bands AS (
       |  $bandSelects),
       |probes AS (
       |  SELECT vec_id, band, xor(key, f.flip) AS key
       |  FROM bands, (SELECT unnest([0, 1, 2, 4]) AS flip) f),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
       |  FROM probes x JOIN bands y ON x.band = y.band AND x.key = y.key
       |    AND x.vec_id < y.vec_id),
       |pairs AS (
       |  SELECT v1, v2,
       |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
       |  FROM cand JOIN qn a ON v1 = a.vec_id JOIN qn b ON v2 = b.vec_id),
       |epairs AS (SELECT v1, v2 FROM pairs WHERE cosine >= 0.4)""".stripMargin
  }

  val dedupLshQuery: GraftQuery =
    q("dedup_embedding_lsh",
      s"""WITH $lshPairsSqlCtes,
         |out AS (
         |  SELECT v1, v2, cosine FROM pairs WHERE cosine >= 0.4)
         |SELECT v1, v2, cosine FROM out""".stripMargin
    ) { (s, d) => lshPairs(s, d) }

  /** The verified ≥0.4-cosine near-dup pairs (v1, v2, cosine) of the banded
    * multi-probe LSH — the Spark twin of [[lshPairsSqlCtes]], shared by
    * `dedup_embedding_lsh` and the SemDeDup cluster query. */
  /** MEGA-BUCKET GUARD (r12, the [[Dedup.minhashPairs]] doctrine on the
    * embedding bands): identical quantized vectors share every band key,
    * so a duplicate flood (N copies of one embedding) makes the bucket
    * self-join emit ~bands·probes·N²/2 rows before the verify can drop
    * any. The sign mask and the cosine are functions of qv alone, so
    * collapsing each identical-qv group to its min-vec_id representative
    * before banding and EXPANDING the verified rep pairs back through
    * group membership afterwards is answer-preserving — the oracle stays
    * in its naive form and hash equality proves it. The collapse itself
    * costs two qv-keyed corpus shuffles, so it runs ONLY when
    * [[Dedup.collapseForShape]] detects a flood (largest identical-qv
    * group ≥ √n, from one map-side-combinable hash aggregation) — on a
    * flood-free corpus the naive plan runs untouched. */
  private[llm] def lshPairs(s: SparkSession, d: String): DataFrame = {
      // lazily checkpointed: the shape detector materializes the quantized
      // corpus once and the chosen plan reuses it — without this the
      // detector re-reads and re-quantizes the table a second time
      val qe0 = quantized(s, d).localCheckpoint(eager = false)
      val shape = qe0.groupBy(xxhash64(col("qv")).as("gk"))
        .agg(count(lit(1)).as("c"))
        .agg(max(col("c")), sum(col("c"))).head()
      if (!Dedup.collapseForShape(shape.getLong(0), shape.getLong(1)))
        return lshVerifiedPairs(qe0)
      val groups = qe0.groupBy(col("qv"))
        .agg(min(col("vec_id")).as("rep"), min(col("norm2")).as("norm2"))
        .localCheckpoint(eager = false)
      val membership = qe0.as("s")
        .join(groups.as("g"), col("s.qv") === col("g.qv"))
        .select(col("s.vec_id").as("vec_id"), col("g.rep").as("rep"))
        .localCheckpoint(eager = false)
      val qe = groups.select(col("rep").as("vec_id"), col("qv"), col("norm2"))
      // within-group pairs at the naive verify's own arithmetic on
      // identical vectors: dot(qv,qv) / (sqrt(norm2)·sqrt(norm2))
      val clique = membership.as("x")
        .join(membership.as("y"),
          col("x.rep") === col("y.rep") && col("x.vec_id") < col("y.vec_id"))
        .join(groups.as("g2"), col("x.rep") === col("g2.rep"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
          (dot("g2.qv", "g2.qv").cast("double")
            / (sqrt(col("g2.norm2").cast("double"))
              * sqrt(col("g2.norm2").cast("double")))).as("cosine"))
      val verified = lshVerifiedPairs(qe)
      // rep pairs fan back out to their groups' members (cosine is a
      // function of qv alone, so members inherit the rep's value verbatim)
      val expanded = verified
        .join(membership.as("m1"), col("v1") === col("m1.rep"))
        .join(membership.as("m2"), col("v2") === col("m2.rep"))
        .select(least(col("m1.vec_id"), col("m2.vec_id")).as("v1"),
          greatest(col("m1.vec_id"), col("m2.vec_id")).as("v2"),
          col("cosine"))
      expanded.unionByName(clique.filter(col("cosine") >= 0.4))
    }

  /** Band → multi-probe bucket self-join → inline exact-cosine verify
    * over the given (vec_id, qv, norm2) frame — the whole corpus on the
    * naive plan; representatives only under the flood collapse. */
  private def lshVerifiedPairs(qe: DataFrame): DataFrame = {
      // ONE fused pass over qv for all 24 plane signs; band keys are bit
      // slices of the mask — value-identical to the 24 per-plane dots
      val bandCols = (0 until DedupBands).map { t =>
        struct(lit(t).as("band"),
          shiftright(col("mask"), t * DedupBits).bitwiseAND(lit((1 << DedupBits) - 1))
            .cast("int").as("key"))
      }
      val bands = qe
        .withColumn("mask",
          graft.functions.PlaneSignMask(col("qv"), DedupBands * DedupBits))
        .select(col("vec_id"), col("qv"), col("norm2"),
          explode(array(bandCols: _*)).as("bk"))
        .select(col("vec_id"), col("qv"), col("norm2"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      // multi-probe: the exact key plus its 3 one-bit flips; hamming ≤ 1
      // between two keys ⟺ the exact key of one is in the probe set of
      // the other, so probing one side of the (v1 < v2)-ordered join
      // covers every ≤1-bit pair
      val probes = bands
        .select(col("vec_id"), col("qv"), col("norm2"), col("band"), col("key"),
          explode(array(lit(0), lit(1), lit(2), lit(4))).as("flip"))
        .select(col("vec_id"), col("qv"), col("norm2"), col("band"),
          col("key").bitwiseXOR(col("flip")).as("key"))
      // VERIFY INLINE on the streamed join output, dedup only the true
      // pairs. At this τ regime the bands barely prune (profiled sf0.1:
      // 8M joined rows → 1.88M distinct candidates of ~2M possible pairs),
      // so the old candidate-id DISTINCT was an 8M-row exchange followed
      // by two lookup joins — the dominant cost of the whole query. With
      // qv/norm2 carried through the bucket join, the exact dot runs in
      // the same codegen stage as the join probe (no exchange at all on
      // the joined rows; a pair costs one extra dot per extra matching
      // band) and the final distinct sees only verified pairs (~1e3).
      // Same shape at 100 TB: payload-through-bucket-join trades
      // shuffle(candidate ids) + point lookups for zero post-join
      // exchanges; with a sane τ (≥0.7) the bands prune hard and both
      // shapes are cheap, but this one never materializes candidates.
      probes.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
          (dot("x.qv", "y.qv").cast("double")
            / (sqrt(col("x.norm2").cast("double")) * sqrt(col("y.norm2").cast("double"))))
            .as("cosine"))
        .filter(col("cosine") >= 0.4)
        .distinct()
    }

  /** The 8 planes the ANN bucketing uses (deterministic, dim 64, integer
    * weights in [-500, 500); generated by
    * [[graft.functions.PlaneSignMask]], which also evaluates all their
    * sign bits in one codegen'd pass — the Spark plans use the fused mask,
    * the oracle SQL embeds these same weights as literals). */
  lazy val planes: Seq[IndexedSeq[Long]] = graft.functions.PlaneSignMask.planes8

  /** 24 planes for the banded threshold-dedup (8 bands × 3 bits; the first
    * 8 coincide with [[planes]] — same index formula). */
  lazy val dedupPlanes: Seq[IndexedSeq[Long]] = graft.functions.PlaneSignMask.planes24

  /** IVF coarse-quantized ANN with TRAINED centroids: [[lloydCentroids]]
    * runs [[CentroidIters]] Lloyd iterations (seeded on the k smallest
    * vec_ids), then every vector is assigned to its nearest centroid by
    * exact fixed-point cosine and each query searches only its own cell.
    * At scale the cell id is the shuffle/partition key — same shape as a
    * real IVF index (train centroids offline on a sample, assign map-side,
    * probe 1 cell). Registered separately so brute-force / LSH / IVF are
    * comparable side by side. */
  val ivfQuery: GraftQuery =
    q("sim_ivf_topk",
      s"""WITH $quantizedSql,
         |${lloydCtes(CentroidIters)},
         |cents AS (SELECT c_id, cqv, cnorm2 FROM c$CentroidIters),
         |assigned AS (
         |  SELECT vec_id, label, qv, norm2, c_id, row_number() OVER (
         |    PARTITION BY vec_id
         |    ORDER BY CAST(list_sum(list_transform(list_zip(qv, cqv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
         |  FROM qn, cents),
         |cells AS (SELECT vec_id, label, qv, norm2, c_id AS cell FROM assigned WHERE cr = 1),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.label AS label, a.cell AS cell,
         |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
         |  FROM cells a JOIN cells b ON a.cell = b.cell
         |    AND a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
         |ranked AS (
         |  SELECT query_id, vec_id, label, cell, cosine,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT query_id, vec_id, label, cell, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin) {
      (s, d) =>
        val qe = quantized(s, d).localCheckpoint(eager = false) // feeds centroids + assignment + probe
        val cents = lloydCentroids(qe, CentroidK, CentroidIters)
        // same fused map-side assignment as the Lloyd steps (no exchange)
        val assigned = assignRanked(qe, cents)
          .select(col("vec_id"), col("label"), col("qv"), col("norm2"),
            expr("ranked[0].id").as("cell"))
        val scored = assigned.as("a")
          .join(assigned.as("b"),
            col("a.cell") === col("b.cell") && col("a.vec_id") % 50 === 0 &&
              col("b.vec_id") =!= col("a.vec_id"))
          .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
            col("b.label").as("label"), col("a.cell").as("cell"),
            (dot("a.qv", "b.qv").cast("double")
              / (sqrt(col("a.norm2").cast("double")) * sqrt(col("b.norm2").cast("double"))))
              .as("cosine"))
        scored
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
          .filter(col("rank") <= 5)
    }
}
