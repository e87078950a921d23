package graft.sources

import graft.GraftQuery
import graft.GraftQuery.q
import graft.llm.Similarity
import graft.ops.Tables
import graft.functions.{CosRankCells, FixedPointDotMulti}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

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
    def selfDot(v: Array[Long]): Long = dot(v, v)

    def apply(cents: Seq[(Long, Seq[Long])]): Codebook = {
      val sorted = cents.sortBy(_._1)
      val cqvs = sorted.map(_._2.toArray).toArray
      Codebook(sorted.map(_._1).toArray, cqvs, cqvs.map(selfDot))
    }
  }

  /** The k-row trained codebook stored beside the index at
    * `dir/_centroids`, read on the driver straight off its parquet data
    * file(s) ([[readOnDriver]]): no Spark job, and no Spark file index
    * (which treats the `_centroids` leaf itself as hidden and warns on
    * every read). */
  private[sources] def codebook(spark: SparkSession, dir: String): Codebook = {
    val cents = new Path(s"$dir/_centroids")
    val files = dataFiles(cents.getFileSystem(spark.sparkContext.hadoopConfiguration), cents)
    Codebook(readOnDriver(spark, files) { (_, records) =>
      records.map { g =>
        // a parquet LIST: one repeated group holding one element each
        val cqv = g.getGroup("cqv", 0)
        (g.getLong("c_id", 0), Seq.tabulate(cqv.getFieldRepetitionCount(0))(
          i => cqv.getGroup(0, i).getLong(0, 0)))
      }.toVector
    }.flatten)
  }

  /** The parquet data files under `dir`, in name order, descending into
    * partition directories; names starting with `_` or `.` (`_SUCCESS`,
    * checksums, `_centroids`) are skipped as Spark's file index skips
    * them. */
  private def dataFiles(hfs: FileSystem, dir: Path): Seq[FileStatus] =
    hfs.listStatus(dir).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .flatMap(st => if (st.isDirectory) dataFiles(hfs, st.getPath) else Seq(st))

  /** One value per parquet file of `files`, read on the driver through
    * parquet-hadoop's record API: `read` gets the file's footer and its
    * records, and must consume the records before it returns. The reader
    * takes the session's Hadoop conf (a fresh one would re-parse the
    * Hadoop XML defaults on every probe) and the listed status (no extra
    * stat per file). */
  private def readOnDriver[T](spark: SparkSession, files: Seq[FileStatus])(
      read: (FileMetaData, Iterator[Group]) => T): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf, st.getPath).build())
      try {
        val meta = reader.getFooter.getFileMetaData
        val io = new ColumnIOFactory().getColumnIO(meta.getSchema)
        read(meta, Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { rg =>
            val rows = io.getRecordReader(rg, new GroupRecordConverter(meta.getSchema))
            Iterator.fill(rg.getRowCount.toInt)(rows.read())
          })
      } finally reader.close()
    }
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
    * `cell=` directories are read (see [[probeRanked]] for the two plans). */
  def probeTopK(s: SparkSession, dir: String, queryEmbeddings: DataFrame,
      probeCells: Int, k: Int = 5): DataFrame =
    probeRanked(s, dir, queryEmbeddings, probeCells, k)

  /** Probed bytes (data files of the probed cells plus the live epochs) at
    * or under which a one-query probe is served on the driver. Sized by
    * measurement on a 4-core host (CHANGES.md): the driver read, scored and
    * ranked 4.2 MB of 64-dim vectors in 0.62 s with a C1-only JIT (0.25 s
    * with C2), about the distributed plan's fixed cost (0.8–1.0 s, resp.
    * 0.55–0.8 s, for its smallest probe); the driver's time grows about
    * 0.14 s (0.05 s) per MB, the distributed plan's fixed cost does not. */
  private[sources] val DriverProbeMaxBytes: Long = 4L << 20

  /** The gate [[probeRanked]] applies to a one-query probe's probed bytes. */
  private[sources] def servedOnDriver(probedBytes: Long): Boolean =
    probedBytes <= DriverProbeMaxBytes

  /** The top `k` per query over the generation at `dir` — each query's top
    * `probeCells` cells — plus every vector of the live epochs `deltaDirs`
    * ([[VecStoreLog]]'s delta leg), with the codebook read once on the
    * driver. Two plans, one arithmetic ([[VecStoreLog.probeTopK]] tells
    * them apart): [[onDriver]] for a one-row local frame under the byte
    * gate, else the distributed [[probeScored]] + [[rankTopK]]. */
  private[sources] def probeRanked(s: SparkSession, dir: String,
      queryEmbeddings: DataFrame, probeCells: Int, k: Int,
      deltaDirs: Seq[String] = Nil): DataFrame = {
    require(probeCells > 0, s"a probe reads at least one cell, got $probeCells")
    val book = codebook(s, dir)
    localQuery(queryEmbeddings)
      .flatMap(onDriver(s, dir, deltaDirs, book, _, queryEmbeddings.schema("vec_id"),
        probeCells, k))
      .getOrElse(rankTopK(probeScored(s, dir, book, queryEmbeddings, probeCells, deltaDirs), k))
  }

  /** The distributed plan's SCORED candidate frame (query_id, vec_id,
    * label, cell = query's own cell, cosine) before ranking. */
  private def probeScored(s: SparkSession, dir: String, book: Codebook,
      queryEmbeddings: DataFrame, probeCells: Int, deltaDirs: Seq[String]): DataFrame = {
    val queries = qn(queryEmbeddings).select(col("vec_id"), col("qv"), col("norm2"))
    val probes = Similarity.assignRankedPacked(queries, book.packed(s))
      .select(col("vec_id"), col("qv"), col("norm2"),
        expr("ranked[0].id").cast("long").as("cell"),
        explode(expr(s"slice(ranked, 1, $probeCells)")).as("pr"))
      .select(col("vec_id"), col("qv"), col("norm2"), col("cell"),
        col("pr.id").as("probe_cell"))
    // the index side re-quantizes off the stored floats (bit-identical
    // parquet round trip)
    scoredJoin(qn(Tables.cachedParquet(s, dir)),
      if (deltaDirs.isEmpty) None
      else Some(qn(Tables.cachedParquet(s, deltaDirs: _*)
        .select(col("vec_id"), col("label"), col("embedding")))),
      probes)
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

  /** A stored vector as the driver plan scores it: its id as stored and as
    * a long (for the self-match test), its label, fixed-point vector and
    * squared norm. */
  private final case class Stored(id: Any, key: Long, label: Any, qv: Array[Long], norm2: Long)

  /** The driver-served plan: one listing of the probed `cell=` dirs (a
    * cell an erase deleted holds nothing) and the live epochs; under the
    * gate, those files read, scored and ranked in process, as a local
    * relation of the distributed plan's schema. None sends the probe to
    * the distributed plan: over the gate, or input whose SQL arithmetic
    * this path does not mirror — an id that is not a long or int, a file
    * without a Spark footer schema, types differing across files, a null,
    * a value the quantizing cast rejects, or a zero norm (the SQL division
    * fails under ANSI, or yields null). */
  private def onDriver(s: SparkSession, dir: String, deltaDirs: Seq[String],
      book: Codebook, q: LocalQuery, queryId: StructField, probeCells: Int,
      k: Int): Option[DataFrame] = {
    val qKey = q.id match {
      case n @ (_: java.lang.Long | _: java.lang.Integer) => n.asInstanceOf[Number].longValue
      case _ => return None
    }
    if (q.norm2 == 0L) return None
    val cells = book.rank(q.qv, q.norm2)
    val hfs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    def listed(d: String) =
      try dataFiles(hfs, new Path(d)) catch { case _: java.io.FileNotFoundException => Nil }
    val files = cells.take(probeCells).toSeq.flatMap(c => listed(s"$dir/cell=$c")) ++
      deltaDirs.flatMap(listed)
    if (files.isEmpty || !servedOnDriver(files.map(_.getLen).sum)) return None
    val read = readOnDriver(s, files)((meta, records) =>
      storedDecoder(meta).map { case (types, decode) => (types, records.map(decode).toVector) })
    if (read.exists(_.isEmpty) || read.flatten.map(_._1).distinct.size != 1) return None
    val ((idType, labelType), decoded) = (read.head.get._1, read.flatten.flatMap(_._2))
    if (decoded.exists(_.isEmpty)) return None
    val cands = decoded.flatten.filter(_.key != qKey)
    if (cands.exists(_.norm2 == 0L)) return None
    val qNorm = math.sqrt(q.norm2.toDouble)
    val cos = cands.map(v => dot(q.qv, v.qv).toDouble / (qNorm * math.sqrt(v.norm2.toDouble)))
    // cosine DESC (Spark's double order: NaN above every number), then vec_id
    val top = cands.indices.sortWith { (a, b) =>
      val c = SQLOrderingUtil.compareDoubles(cos(b), cos(a))
      if (c != 0) c < 0 else cands(a).key < cands(b).key
    }.take(k)
    val rows = top.zipWithIndex.map { case (i, r) =>
      Row(q.id, cands(i).id, cands(i).label, cells.head, cands.size.toLong, cos(i), r + 1)
    }
    Some(s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("query_id", queryId.dataType, queryId.nullable),
      StructField("vec_id", idType), StructField("label", labelType),
      StructField("cell", LongType), StructField("n_cands", LongType, nullable = false),
      StructField("cosine", DoubleType), StructField("rank", IntegerType, nullable = false)))))
  }

  /** The decoder of one stored-vector file, from the schema its Spark writer
    * recorded in the footer: (vec_id and label types, record → vector).
    * None for a file without that schema, with a vec_id that is not a
    * long or int, a label that is not a long, int or string, or an
    * embedding that is not a float or double array. A record decodes to
    * None when it holds a null id, embedding or element, or a value whose
    * fixed-point form the SQL cast to BIGINT would reject. */
  private def storedDecoder(meta: FileMetaData)
      : Option[((DataType, DataType), Group => Option[Stored])] = for {
    json <- Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
    schema = DataType.fromJson(json).asInstanceOf[StructType]
    idF <- schema.find(_.name == "vec_id")
    labelF <- schema.find(_.name == "label")
    id <- Seq(LongType, IntegerType).find(_ == idF.dataType).flatMap(atom)
    label <- atom(labelF.dataType)
    element <- schema.find(_.name == "embedding").map(_.dataType).collect {
      case ArrayType(FloatType, _) => (e: Group) => e.getFloat(0, 0).toDouble
      case ArrayType(DoubleType, _) => (e: Group) => e.getDouble(0, 0)
    }
  } yield ((idF.dataType, labelF.dataType), { g =>
    val idv = id(g, "vec_id")
    if (idv == null || g.getFieldRepetitionCount("embedding") == 0) None
    else {
      // a parquet LIST: one repeated group holding one element each; a
      // null element reads as NaN, which no cast accepts
      val list = g.getGroup("embedding", 0)
      val xs = Array.tabulate(list.getFieldRepetitionCount(0)) { i =>
        val e = list.getGroup(0, i)
        if (e.getFieldRepetitionCount(0) == 0) Double.NaN else element(e)
      }
      if (!xs.forall(x => math.abs(x * Similarity.Q) < 9.0e18)) None
      else {
        val qv = xs.map(fixedPoint)
        Some(Stored(idv, idv.asInstanceOf[Number].longValue, label(g, "label"), qv, dot(qv, qv)))
      }
    }
  })

  /** A reader of one atomic field of a parquet record as its Spark type
    * holds it (null when the field is absent), for the types the
    * driver-served plan passes through. */
  private def atom(t: DataType): Option[(Group, String) => Any] = (t match {
    case LongType => Some((g: Group, f: String) => g.getLong(f, 0): Any)
    case IntegerType => Some((g: Group, f: String) => g.getInteger(f, 0): Any)
    case StringType => Some((g: Group, f: String) => g.getString(f, 0): Any)
    case _ => None
  }).map(get => (g: Group, f: String) => if (g.getFieldRepetitionCount(f) == 0) null else get(g, f))

  /** [[graft.functions.FixedPointDot]]'s arithmetic: wrapping long sum over
    * the shorter length. */
  private def dot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
    s
  }

  /** One float as [[qn]] quantizes it, `CAST(round(x * Q) AS BIGINT)`: SQL
    * round() is HALF_UP away from zero, while Math.round is half-up toward
    * +infinity — they disagree at negative exact-.5 products, which would
    * send a probe to the wrong cell directory. */
  private def fixedPoint(x: Double): Long = {
    val v = x * Similarity.Q
    if (v < 0) -Math.round(-v) else Math.round(v)
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
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
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
    * as stored ([[fixedPoint]]), then [[Codebook.rank]] — exact integer
    * dots, cosine ranking with ties to the smallest c_id. */
  def cellOf(embedding: Seq[Float], cents: Seq[(Long, Seq[Long])]): Long = {
    val qv = embedding.map(x => fixedPoint(x.toDouble)).toArray
    Codebook(cents).rank(qv, Codebook.selfDot(qv)).head
  }
}
