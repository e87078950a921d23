package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver corpus (TESTDATA.md): one parquet per table under
  * /root/testdata/sf{0.001,0.01,0.1}. Reading through this single entry point
  * keeps scans uniform so Catalyst's column pruning / predicate pushdown apply
  * everywhere (verify with .explain: PushedFilters + ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema cache keyed by the exact path set (r16, guide §6).
    * `spark.read.parquet` runs a one-task footer-inference JOB per call —
    * measured 30-70 ms of serialized driver latency at EVERY DataFrame
    * construction, several times per query (ProfileOne: 4 such jobs open
    * q2; 9 open search_hybrid_multiquery). The corpus tables and store
    * layouts are fixed-schema by contract — a production deployment
    * declares them in a catalog/manifest instead of re-inferring per
    * query, which is exactly what this cache emulates. Only the
    * STRUCTTYPE is reused: every execution still lists and reads the
    * data files, so results always come from the parquet inputs. A new
    * path set (new store generation, new epoch set) re-infers. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Parquet reader with the schema-inference job cached per path set —
    * use on fixed-schema query paths; keep plain `spark.read.parquet`
    * where one directory's schema legitimately evolves mid-JVM
    * (e.g. Formats' schema-evolution fixture). */
  def cachedParquet(spark: SparkSession, paths: String*): DataFrame = {
    val key = paths.mkString("\u0000")
    val sch = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(paths: _*).schema)
    spark.read.schema(sch).parquet(paths: _*)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    cachedParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** Normalized events loader. Every downstream query sees the same two
    * columns regardless of how the corpus file stores time: `ts` — a µs
    * TIMESTAMP for date_trunc/grouping — and `ts_ns` — an epoch-ns BIGINT
    * whose window orderings match DuckDB's timestamp ordering exactly (no
    * tie-break ambiguity). The corpus has shipped `ts` two ways: parquet
    * TIMESTAMP(NANOS) (which Spark 4 only reads as a raw ns BIGINT, under
    * the legacy conf [[graft.Session.engineConfs]] sets) and plain
    * timestamp[us] (read as TIMESTAMP_NTZ); both schemas are handled, so
    * the registry is insulated from regeneration.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // timestamp[us] (NTZ or LTZ): the session TZ is UTC, so the
        // NTZ→LTZ cast preserves the stored micros bit-for-bit — ts and
        // ts_ns carry the same instants DuckDB reads from the same file.
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")

  /** `documents` spread across all cores: the corpus ships as one small
    * parquet file ⇒ one input partition, which would run the CPU-heavy
    * narrow sketch transforms (md5 shingling, MinHash/SimHash) on a single
    * thread. A 5K-row round-robin shuffle is free next to 1.4M md5 calls;
    * on a real many-file 100 TB corpus this repartition is unnecessary and
    * the plain reader should be used. */
  def documentsParallel(s: SparkSession, d: String): DataFrame =
    documents(s, d).repartition(s.sparkContext.defaultParallelism)

  // (r15) the fact tables also ship as ONE parquet row group, so
  // scan-rooted CPU-heavy map work runs single-task regardless of core
  // count; the queries that need width repartition AFTER PROJECTING
  // their needed columns (guide §2.3/§2.5 — column pruning does not push
  // below a round-robin exchange, so a whole-table parallel loader would
  // shuffle every column: a7_count_distinct measured 6× the CPU that way).

  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** `embeddings` spread across all cores — same doctrine as
    * [[documentsParallel]]: the test corpus is one small parquet file ⇒
    * one input partition, which would run every map-side vector kernel
    * (quantization, plane-sign banding, centroid assignment) AND any join
    * that streams a band/cell frame derived from it on a single thread.
    * The 2K-row shuffle is free next to the 64-wide dot work; on a real
    * many-file 100 TB corpus this repartition is unnecessary and the
    * plain reader should be used. */
  def embeddingsParallel(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).repartition(s.sparkContext.defaultParallelism)

  /** Money columns in the corpus are doubles carrying exactly 2 decimals.
    * `cents(c)` maps them to exact BIGINT hundredths: long sums are exact and
    * associative, so aggregates are bit-identical regardless of partitioning /
    * shuffle order (unlike double sums) AND bit-identical to the DuckDB oracle
    * — while staying cheaper than DecimalType in whole-stage codegen.
    * SQL equivalent: CAST(round(c * 100) AS BIGINT).
    */
  def cents(c: Column): Column = round(c * 100).cast("long")
}
