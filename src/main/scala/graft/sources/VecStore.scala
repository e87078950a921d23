package graft.sources

import graft.GraftQuery
import graft.GraftQuery.q
import graft.llm.Similarity
import graft.ops.Tables
import graft.functions.{CosRankCells, FixedPointDotMulti}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Persisted ANN index layout on TRAINED IVF coarse cells: embeddings are
  * PHYSICALLY partitioned by their nearest Lloyd-trained centroid, with
  * the centroid table stored beside the index — so a similarity probe
  * reads only its nearest cell directories instead of scanning the
  * corpus. This is the storage half of the similarity-search story
  * ([[graft.llm.Similarity]] is the compute half; its in-memory IVF
  * bucket joins become partition-pruned scans once the index is on disk)
  * and the lake-native analogue of the reference's segmentby index
  * contract (smart_meter_data_pipeline/sql/01_create_schema.sql:126-136)
  * applied to the ANN family.
  *
  * Layout contract: `dir/cell=K/part-*.parquet` index partitions plus
  * `dir/_centroids/` (the k-row trained codebook — the underscore prefix
  * hides it from the index's own parquet discovery, so data and metadata
  * share one directory tree). Appends are additive AND train-free: new
  * vectors are assigned through the STORED centroids and land in their
  * cell partitions without touching existing files — the
  * incremental-crawl regime, same doctrine as [[DocStore]]; training
  * amortizes offline at build time, exactly the 100 TB claim.
  *
  * WHY trained cells and not sign-LSH buckets: this corpus's true top-5
  * neighbors sit at cosine 0.32-0.49, where P[an 8-bit sign signature
  * agrees] ≤ 0.04 — the r7-shipped sign-bucket layout measured recall@5
  * 0.13 even with 1-bit multi-probe (full curve in SCALING.md). Trained
  * cells follow the DATA's cluster structure instead of random
  * hyperplanes: probing the query's top [[ProbeCells]] of [[CellK]] cells
  * reads a bounded corpus fraction and captures the neighbors that
  * actually co-cluster (measured in VecStoreSpec: recall@5 ≥ 0.5 at
  * ≤ 25% of the corpus probed).
  *
  * At 100 TB: one probe prunes to ProbeCells/CellK of the corpus by
  * DIRECTORY listing (no file reads outside the probed cells), cell
  * directories are the unit of compaction/retention exactly like
  * [[Store]]'s date chunks, and the only data-sized work at build time is
  * the map-side assignment (the corpus only ever crosses a k-row
  * broadcast — the [[Similarity.lloydCentroids]] shape).
  */
object VecStore {

  /** Trained coarse cells / probed cells of the REGISTERED query: 4 of
    * 16 = 25% of the corpus by cell count, the probe-fraction budget
    * VecStoreSpec holds the measured recall against. Fixed (not derived)
    * because the DuckDB oracle trains the identical k=16 chain
    * arithmetically; the library build derives its own k via
    * [[cellKFor]]. */
  private[graft] val CellK = 16
  private[graft] val ProbeCells = 4

  /** The standard IVF sizing rule, k ≈ √n cells (Johnson, Douze & Jégou,
    * IEEE Trans. Big Data 2021 — balances cells scanned vs centroids
    * ranked), floored at the shipped [[CellK]]: per probe the codebook
    * ranking costs O(k) and the scan O(probe/k share of n), so √n
    * equalizes their growth. A 100 TB build passes its corpus count here
    * instead of hardcoding k. */
  def cellKFor(n: Long): Int =
    math.max(CellK, math.round(math.sqrt(n.toDouble)).toInt)

  /** Probe width holding the ≤ 25%-of-cells budget at any k (the
    * recall/fraction trade VecStoreSpec measures), floored at the shipped
    * [[ProbeCells]]. */
  def probeCellsFor(cellK: Int): Int =
    math.max(ProbeCells, cellK / 4)

  private def quantExpr = expr(
    s"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * ${Similarity.Q}) AS BIGINT))")

  /** Raw columns + the fixed-point view ([[Similarity]] arithmetic, so
    * on-disk and in-memory indexes agree bit-for-bit). */
  private[sources] def qn(df: DataFrame): DataFrame = df
    .withColumn("qv", quantExpr)
    .withColumn("norm2", graft.functions.FixedPointDot(col("qv"), col("qv")))

  /** Train `cellK` cells on `embeddings` and write the full index at
    * `dir`: codebook to `dir/_centroids`, vectors to `dir/cell=K/`.
    * Clustered on the partition key first so the build writes ONE file per
    * cell instead of one per (task × cell) — at scale the unclustered form
    * is the classic small-files explosion, and the shuffle this spends is
    * tiny against the write it saves. The default `cellK` keeps the
    * registered query's oracle-matched k=16; a scale-aware build passes
    * [[cellKFor]](corpus count).
    *
    * `embeddings` carrying a `chunk_date` DATE column (a calendar-chunked
    * [[VecStoreLog]] fold) keep it as the INNER partition under each cell
    * (`cell=K/chunk_date=D/`) — cell stays OUTER so probes prune
    * directories exactly like the flat layout, while expiring a crawl day
    * is ≤ k driver-side directory deletes. Training ignores the axis; a
    * vector's cell is its nearest centroid either way. */
  def build(embeddings: DataFrame, dir: String, cellK: Int = CellK): Unit = {
    val axis = embeddings.columns.filter(_ == "chunk_date").toSeq
    val qe = qn(embeddings.select((Seq("vec_id", "label", "embedding") ++ axis).map(col): _*))
      .localCheckpoint(eager = false) // feeds training AND assignment
    val cents = Similarity.lloydCentroids(
      qe.select(col("vec_id"), col("qv"), col("norm2")),
      cellK, Similarity.CentroidIters)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$dir/_centroids")
    appendThrough(qe, Similarity.centsRow(cents), dir, axis)
  }

  /** Additive append: assign through the STORED centroids (no retrain) and
    * land new vectors in their cell partitions without touching existing
    * files. */
  def append(embeddings: DataFrame, dir: String): Unit = {
    val spark = embeddings.sparkSession
    appendThrough(
      qn(embeddings.select(col("vec_id"), col("label"), col("embedding"))),
      codebook(spark, dir).packed(spark), dir)
  }

  private def appendThrough(qe: DataFrame, packed: DataFrame, dir: String,
      axis: Seq[String] = Nil): Unit = {
    // pinned partition count: an un-numbered repartition lets AQE coalesce
    // the tiny shuffle to ONE task, which then creates every cell's
    // parquet file serially — writer setup, not data volume, is the cost
    val n = qe.sparkSession.sessionState.conf.numShufflePartitions
    val parts = "cell" +: axis
    Similarity.assignRankedPacked(qe, packed)
      .select((Seq("vec_id", "label", "embedding") ++ axis).map(col) :+
        expr("ranked[0].id").as("cell"): _*)
      .repartition(n, parts.map(col): _*)
      .write.mode("append").partitionBy(parts: _*).parquet(dir)
  }

  /** The trained codebook on the driver — the arrays of the one packed row
    * [[Similarity.centsRow]] builds: cell ids ascending, each with its
    * fixed-point vector and squared norm. */
  private[sources] final case class Codebook(cids: Array[Long],
      cqvs: Array[Array[Long]], cnorms: Array[Long]) {

    /** Cell ids nearest first for one fixed-point query: ascending
      * (−cosine, c_id) through the SQL path's own arithmetic. */
    def rank(qv: Array[Long], norm2: Long): Array[Long] = {
      val ranked = CosRankCells.compute(
        FixedPointDotMulti.compute(new GenericArrayData(qv), Codebook.nested(cqvs)),
        new GenericArrayData(cnorms), new GenericArrayData(cids), norm2)
      Array.tabulate(ranked.numElements())(i => ranked.getStruct(i, 2).getLong(1))
    }

    /** The packed one-row frame [[Similarity.assignRankedPacked]] crossJoins. */
    def packed(spark: SparkSession): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(Row(cids, cqvs, cnorms)),
      StructType(Seq(StructField("cids", ArrayType(LongType)),
        StructField("cqvs", ArrayType(ArrayType(LongType))),
        StructField("cnorms", ArrayType(LongType)))))
  }

  private[sources] object Codebook {
    private def nested(vs: Array[Array[Long]]): GenericArrayData =
      new GenericArrayData(vs.map(v => new GenericArrayData(v): Any))

    /** A fixed-point vector's squared norm ([[qn]]'s `norm2`). */
    def selfDot(v: Array[Long]): Long =
      FixedPointDotMulti.compute(new GenericArrayData(v), nested(Array(v))).getLong(0)

    def apply(cents: Seq[(Long, Seq[Long])]): Codebook = {
      val sorted = cents.sortBy(_._1)
      val cqvs = sorted.map(_._2.toArray).toArray
      Codebook(sorted.map(_._1).toArray, cqvs, cqvs.map(selfDot))
    }
  }

  /** The k-row trained codebook stored beside the index at
    * `dir/_centroids`, read on the driver straight off its parquet data
    * file(s): no Spark job, and no Spark file index (which treats the
    * `_centroids` leaf itself as hidden and warns on every read). The
    * reader takes the session's Hadoop conf (a fresh one would re-parse
    * the Hadoop XML defaults on every probe). */
  private[sources] def codebook(spark: SparkSession, dir: String): Codebook = {
    import org.apache.parquet.hadoop.ParquetFileReader
    val conf = spark.sparkContext.hadoopConfiguration
    val cents = new org.apache.hadoop.fs.Path(s"$dir/_centroids")
    val files = cents.getFileSystem(conf).listStatus(cents).toSeq.map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    Codebook(files.flatMap { path =>
      val reader = ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).flatMap { rg =>
          val rows = io.getRecordReader(rg,
            new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(schema))
          Iterator.fill(rg.getRowCount.toInt)(rows.read())
        }.map { g =>
          // a parquet LIST: one repeated group holding one element each
          val cqv = g.getGroup("cqv", 0)
          (g.getLong("c_id", 0), Seq.tabulate(cqv.getFieldRepetitionCount(0))(
            i => cqv.getGroup(0, i).getLong(0, 0)))
        }.toVector
      } finally reader.close()
    })
  }

  /** Vectors in one cell of the index — a partition-pruned scan (the
    * filter binds to the partition column, so only `dir/cell=K` is
    * listed/read). */
  def probe(spark: SparkSession, dir: String, cell: Long): DataFrame =
    Tables.cachedParquet(spark, dir).filter(col("cell") === cell)

  /** The on-disk index driven end-to-end as a registered query: build the
    * cell-partitioned index in a scratch dir (train + assign + write —
    * the timed figure is deliberately BUILD+PROBE end-to-end, the
    * incremental-crawl unit of work), then answer a top-k probe set
    * THROUGH the disk layout: queries rank the STORED codebook
    * (broadcast, k rows), probe their top [[ProbeCells]] cells, and the
    * cell equi-join against the broadcast probe set triggers DYNAMIC
    * PARTITION PRUNING on the index's partition column — the scan lists
    * only the probed cell directories; at 100 TB the non-probed fraction
    * of the corpus is never read. A vector lives in exactly one cell, so
    * a candidate matches at most one probe key and the join needs no
    * distinct. Exact fixed-point cosine + per-query rank over the probed
    * candidates; `n_cands` records each probe's candidate-set size — the
    * pruning evidence in the result itself. The oracle trains the
    * identical cells (the [[Similarity.lloydCtes]] chain at k=16) and
    * probes them arithmetically, proving on-disk ≡ in-memory (the
    * contract [[VecStoreSpec]] asserts file-level; recall@5 ≥ 0.5 at
    * ≤ 25% probed is asserted there too). */
  lazy val probeQuery: GraftQuery =
    q("vecstore_probe_topk", probeOracleSql()) { (s, d) =>
    // per-invocation unique scratch dir: a fixed per-dataset path races
    // delete-against-scan when bench reps overlap a test run; the scratch
    // tree is removed at JVM exit.
    val dir = s"${sys.props("java.io.tmpdir")}/graft_vecstore_idx/" +
      s"${new java.io.File(d).getName}-${java.util.UUID.randomUUID()}"
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.deleteOnExit(path)
    build(Tables.embeddingsParallel(s, d), dir)
    val queries = Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding"))
    probeTopK(s, dir, queries, ProbeCells)
  }

  /** The cell-probe oracle parameterized by the QUERY-PANEL predicate —
    * the default is [[probeQuery]]'s % 50 stride; the serving-shape
    * multi-query registered probe passes its own panel
    * ([[VecStoreLog.multiQueryProbeQuery]]). */
  private[sources] def probeOracleSql(
      queryPred: String = "vec_id % 50 = 0"): String = {
    val iters = Similarity.CentroidIters
    s"""WITH ${Similarity.quantizedSql},
       |${Similarity.lloydCtes(iters, CellK)},
       |cents AS (SELECT c_id, cqv, cnorm2 FROM c$iters),
       |assigned AS (
       |  SELECT vec_id, label, qv, norm2, c_id, row_number() OVER (
       |    PARTITION BY vec_id
       |    ORDER BY CAST(list_sum(list_transform(list_zip(qv, cqv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(cnorm2 AS DOUBLE))) DESC, c_id) AS cr
       |  FROM qn, cents),
       |idx AS (SELECT vec_id, label, qv, norm2, c_id AS cell FROM assigned WHERE cr = 1),
       |qp AS (SELECT * FROM assigned WHERE $queryPred),
       |qtop AS (SELECT vec_id, CAST(c_id AS BIGINT) AS cell FROM qp WHERE cr = 1),
       |probes AS (
       |  SELECT vec_id, qv, norm2, c_id AS probe_cell FROM qp WHERE cr <= $ProbeCells),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.label AS label,
       |    CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT)
       |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cosine
       |  FROM probes a JOIN idx b ON a.probe_cell = b.cell
       |    AND b.vec_id <> a.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, label, cosine,
       |    CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT) AS n_cands,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT r.query_id, r.vec_id, r.label, t.cell, r.n_cands, r.cosine, r.rank
       |FROM ranked r JOIN qtop t ON t.vec_id = r.query_id
       |WHERE r.rank <= 5""".stripMargin
  }

  /** The √n SIZING RULE oracle-gated (r9 left it spec-pinned only): the
    * index is built at the DERIVED k = [[cellKFor]](n) and probed at
    * [[probeCellsFor]](k) — both pure arithmetic of the corpus count, so
    * the oracle replicates them — and the probe's retrieval quality is a
    * bounded assertion the engine GENUINELY checks (the sketch-query
    * pattern): recall@5 ≥ 0.55 against the exact brute-force truth, with
    * the probed cell budget ≤ 25% of cells + the candidate fraction
    * under 28% (measured 0.60–0.73 recall / ≤ 0.25 fraction at
    * sf0.001–sf1, SCALING.md — the bounds sit just under the measured
    * floor so a sizing-rule regression trips them, while the remaining
    * gap absorbs dataset drift, not algorithm drift). Deterministic end
    * to end
    * (Lloyd runs fixed iterations from fixed seeds), so the verdicts are
    * stable facts of the dataset, not flaky measurements. The brute
    * truth side is |queries| × n dot products with the 2%-of-corpus
    * query set broadcast — the verification cost, not the probe cost;
    * the probe itself reads only probed cell directories. */
  lazy val scaledProbeQuery: GraftQuery = q("vecstore_scaled_probe",
    """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings),
      |qs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM embeddings
      |  WHERE vec_id % 50 = 0),
      |k AS (SELECT n_vecs,
      |  GREATEST(16, CAST(round(sqrt(CAST(n_vecs AS DOUBLE))) AS BIGINT)) AS cell_k
      |  FROM n)
      |SELECT k.n_vecs, k.cell_k,
      |  GREATEST(4, k.cell_k // 4) AS probe_cells,
      |  qs.n_queries, TRUE AS recall_ok, TRUE AS budget_ok
      |FROM k, qs""".stripMargin) { (s, d) =>
    val dir = s"${sys.props("java.io.tmpdir")}/graft_vecstore_scaled/" +
      s"${new java.io.File(d).getName}-${java.util.UUID.randomUUID()}"
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(path)
    val emb = Tables.embeddingsParallel(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
      .localCheckpoint(eager = true) // feeds count, build, truth
    val n = emb.count()
    val cellK = cellKFor(n)
    val pc = probeCellsFor(cellK)
    build(emb, dir, cellK)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding"))
    val ann = probeTopK(s, dir, queries, pc)
    // exact truth: brute-force fixed-point cosine top-5, same arithmetic
    val qq = qn(queries).select(col("vec_id"), col("qv"), col("norm2"))
    val truth = qn(emb).as("b")
      .join(broadcast(qq.as("a")), col("b.vec_id") =!= col("a.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
        cosine(col("a.qv"), col("a.norm2"), col("b.qv"), col("b.norm2")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id"))
    val hits = truth.join(ann.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
        Seq("query_id", "vec_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("double").as("n_hit"),
        count(lit(1)).cast("double").as("n_truth"))
    val cands = ann.select(col("query_id"), col("n_cands")).distinct()
      .agg(avg(col("n_cands")).as("mean_cands"),
        count(lit(1)).as("n_queries"))
    hits.crossJoin(broadcast(cands))
      .select(lit(n).as("n_vecs"), lit(cellK.toLong).as("cell_k"),
        lit(pc.toLong).as("probe_cells"), col("n_queries"),
        (col("n_hit") / col("n_truth") >= 0.55).as("recall_ok"),
        (lit(pc.toDouble / cellK) <= 0.25
          && col("mean_cands") / lit(n.toDouble) <= 0.28).as("budget_ok"))
  }

  /** Top-k probe set THROUGH the disk layout (shared by the registered
    * query and the scale-measurement runner): queries rank the STORED
    * codebook and probe their top `probeCells` cells; only the probed
    * `cell=` directories are read (see [[probeScored]] for the two plans). */
  def probeTopK(s: SparkSession, dir: String, queryEmbeddings: DataFrame,
      probeCells: Int, k: Int = 5): DataFrame =
    rankTopK(probeScored(s, dir, queryEmbeddings, probeCells), k)

  /** The probe's SCORED candidate frame (query_id, vec_id, label, cell =
    * query's own cell, cosine) before ranking: the generation at `dir`
    * scored in each query's top `probeCells` cells, plus every vector of
    * the live epochs `deltaDirs` brute-scored ([[VecStoreLog]]'s delta
    * leg). The codebook is read once, on the driver ([[codebook]]). Two
    * plans, one arithmetic:
    *
    *  - **driver-planned**, when the query frame is one row already on
    *    the driver ([[localQuery]]): the query's cells are ranked there,
    *    the generation is read under a static `cell IN (…)` partition
    *    filter, and the query scores as a literal — no codebook scan, no
    *    dynamic-pruning subquery;
    *  - **distributed** otherwise: the packed codebook crossJoins the
    *    queries, and the cell equi-join against the broadcast probe set
    *    prunes the generation's cells dynamically.
    *
    * Both quantize through [[qn]] and rank cells through
    * [[graft.functions.FixedPointDotMulti]] and
    * [[graft.functions.CosRankCells]], so candidates, cosines and cells
    * agree bit for bit (VecStoreLogSpec pins it). */
  private[sources] def probeScored(s: SparkSession, dir: String,
      queryEmbeddings: DataFrame, probeCells: Int,
      deltaDirs: Seq[String] = Nil): DataFrame = {
    require(probeCells > 0, s"a probe reads at least one cell, got $probeCells")
    val book = codebook(s, dir)
    val stored = Tables.cachedParquet(s, dir)
    val live = if (deltaDirs.isEmpty) None else Some(Tables.cachedParquet(s, deltaDirs: _*))
    localQuery(queryEmbeddings) match {
      case Some(q) =>
        // the query's vector, norm and cell are literals, so each leg is
        // one scan-filter-project
        val ranked = book.rank(q.qv, q.norm2)
        val id = lit(q.id).cast(queryEmbeddings.schema("vec_id").dataType)
        def scoredAgainst(side: DataFrame, keep: Column): DataFrame =
          side.where(keep && col("vec_id") =!= id)
            .select(id.as("query_id"), col("vec_id"), col("label"),
              lit(ranked.head).as("cell"),
              cosine(typedLit(q.qv.toSeq), lit(q.norm2), quantExpr,
                graft.functions.FixedPointDot(quantExpr, quantExpr)))
        (scoredAgainst(stored, col("cell").isin(ranked.take(probeCells): _*)) +:
          live.toSeq.map(scoredAgainst(_, lit(true)))).reduce(_ unionByName _)
      case None =>
        val queries = qn(queryEmbeddings).select(col("vec_id"), col("qv"), col("norm2"))
        val probes = Similarity.assignRankedPacked(queries, book.packed(s))
          .select(col("vec_id"), col("qv"), col("norm2"),
            expr("ranked[0].id").cast("long").as("cell"),
            explode(expr(s"slice(ranked, 1, $probeCells)")).as("pr"))
          .select(col("vec_id"), col("qv"), col("norm2"), col("cell"),
            col("pr.id").as("probe_cell"))
        // the index side re-quantizes off the stored floats (bit-identical
        // parquet round trip)
        scoredJoin(qn(stored),
          live.map(d => qn(d.select(col("vec_id"), col("label"), col("embedding")))),
          probes)
    }
  }

  /** The one query of a frame already on the driver: its id as stored, its
    * fixed-point vector and squared norm. */
  private[sources] final case class LocalQuery(id: Any, qv: Array[Long], norm2: Long)

  /** The query when the frame is one row already on the driver: quantized
    * by [[qn]]'s own expression, whose projection the optimizer folds into
    * a LocalRelation input, so collecting it runs no job. Frames of
    * several rows take the distributed plan. */
  private[sources] def localQuery(queries: DataFrame): Option[LocalQuery] = {
    val quantized = queries.select(col("vec_id"), quantExpr.as("qv"))
    quantized.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.data.length == 1 =>
        val r = quantized.collect().head
        val qv = r.getSeq[Long](1).toArray
        Some(LocalQuery(r.get(0), qv, Codebook.selfDot(qv)))
      case _ => None
    }
  }

  /** Score the probed generation cells and the live delta against a probe
    * set (vec_id, qv, norm2, cell, probe_cell): one row per query and
    * probed cell, so the delta leg takes each query's own-cell row. A
    * vector lives in exactly one cell, so a candidate matches at most one
    * probe row and the join needs no distinct. */
  private def scoredJoin(index: DataFrame, delta: Option[DataFrame],
      probes: DataFrame): DataFrame = {
    val cols = Seq(col("a.vec_id").as("query_id"), col("b.vec_id").as("vec_id"),
      col("b.label").as("label"), col("a.cell").as("cell"),
      cosine(col("a.qv"), col("a.norm2"), col("b.qv"), col("b.norm2")))
    val base = index.as("b")
      .join(broadcast(probes.as("a")),
        col("a.probe_cell") === col("b.cell") && col("b.vec_id") =!= col("a.vec_id"))
      .select(cols: _*)
    delta.fold(base) { d =>
      val qcell = probes.filter(col("probe_cell") === col("cell"))
      base.unionByName(d.as("b")
        .join(broadcast(qcell.as("a")), col("b.vec_id") =!= col("a.vec_id"))
        .select(cols: _*))
    }
  }

  /** Exact fixed-point cosine, in the oracle's operation order. */
  private def cosine(aQv: Column, aNorm2: Column, bQv: Column, bNorm2: Column): Column =
    (graft.functions.FixedPointDot(aQv, bQv).cast("double")
      / (sqrt(aNorm2.cast("double")) * sqrt(bNorm2.cast("double")))).as("cosine")

  /** Shared top-k rank over a scored candidate frame. */
  private[sources] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("n_cands",
        count(lit(1)).over(Window.partitionBy(col("query_id"))).cast("long"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("label"), col("cell"),
        col("n_cands"), col("cosine"), col("rank"))

  /** The cell a raw float-array embedding is assigned to under a trained
    * codebook (driver-side helper for single-query probes): quantization
    * as stored, then [[Codebook.rank]] — exact integer dots, cosine
    * ranking with ties to the smallest c_id. */
  def cellOf(embedding: Seq[Float], cents: Seq[(Long, Seq[Long])]): Long = {
    // SQL round() is HALF_UP away from zero; Math.round is half-up toward
    // +infinity — they disagree at negative exact-.5 products, which would
    // send a probe to the wrong cell directory. Mirror the stored
    // arithmetic exactly.
    def sqlRound(v: Double): Long = if (v < 0) -Math.round(-v) else Math.round(v)
    val qv = embedding.map(x => sqlRound(x.toDouble * Similarity.Q)).toArray
    Codebook(cents).rank(qv, Codebook.selfDot(qv)).head
  }
}
