package graft.llm

import graft.GraftQuery
import graft.GraftQuery.q
import graft.ops.Tables
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` (builder prompt; SURVEY.md §7.1.8):
  * exact (hash-group), MinHash+LSH (shingle→signature→band→bucket-join),
  * SimHash, and exact n-gram Jaccard.
  *
  * Scale design (100 TB): the LSH variants never enumerate all pairs — the
  * only join is on (band, band_key) buckets, so cost is proportional to
  * true-candidate volume; the exact-Jaccard query (quadratic in
  * docs-per-shingle) exists as the small-scale ground truth the LSH output
  * is judged against. All hashing is md5-derived integer arithmetic
  * ([[TextHash]]) — bit-identical in the DuckDB oracle.
  */
object Dedup {
  import TextHash._

  private[llm] val bandsCount = NumHashes / BandRows // 8

  /** Spark: wide MinHash signature frame (doc_id, s0..s31) — computed
    * map-side by [[graft.functions.MinHashSigs]] over the per-document
    * shingle-hash array: no shuffle at all (same values as the
    * 32-aggregate form the oracle SQL uses). */
  private[llm] def sigsOf(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"),
        graft.functions.MinHashSigs(shingleHashArray(col("text"))).as("sig"))
      .select(col("doc_id") +:
        (0 until NumHashes).map(j => element_at(col("sig"), j + 1).as(s"s$j")): _*)

  private def sigsSql(from: String = "documents"): String = {
    val aggs = (0 until NumHashes).map(j => s"${minhashSql(j, "h")} AS s$j").mkString(", ")
    s"""sh AS (${shinglesSql(from)}),
       |hs AS (SELECT doc_id, ${h64Sql("sh")} AS h FROM sh),
       |sigs AS (SELECT doc_id, $aggs FROM hs GROUP BY doc_id)""".stripMargin
  }

  private def bandKey(b: Int): String = {
    val parts = (0 until BandRows).map(r => s"s${b * BandRows + r}")
    parts.tail.foldLeft(parts.head)((acc, s) => s"($acc * 31 + $s)")
  }

  /** The mega-bucket-guard plan chooser (the [[chooseStar]] doctrine on
    * the candidate-generation axis): collapse identical-signature groups
    * before banding iff the LARGEST group is at least √n — below that the
    * naive bucket self-join's worst skew term (bands·maxGroup²/2 joined
    * rows) costs less than the collapse's own two corpus shuffles, above
    * it the join term alone exceeds re-shuffling the corpus and grows
    * quadratically while the collapse stays linear. The detector hashes
    * the group key (one map-side-combinable aggregation); a hash
    * collision can only INFLATE maxGroup, i.e. turn the guard on early —
    * never produce a wrong answer, because both plans are
    * answer-identical (LshSkewSpec pins it value-for-value). */
  private[llm] def collapseForShape(maxGroup: Long, n: Long): Boolean =
    maxGroup * maxGroup >= n

  /** The batch-vs-maintained dedup regime chooser (the [[chooseStar]] /
    * [[collapseForShape]] doctrine on the MAINTENANCE axis) — r12 shipped
    * both regimes answer-identical (the r13 dedup delta sweep asserted
    * label equality at every step) but left the choice a deployment knob;
    * this makes it a measured boundary. The corrected sweep run
    * (SCALING.md "Incremental dedup", sf0.1 base × char-bijection
    * replicas; a frozen record) fits: batch re-dedup wall ≈ [[BatchDedupInterceptMs]] +
    * [[BatchDedupSlopeUsPerDoc]]·N µs (re-shingle + re-band + re-pair the
    * whole corpus-so-far, linear), incremental landing ≈
    * [[MaintainedLandingFloorMs]] near-flat (+12 % over 8× corpus
    * growth). Maintained wins once the batch line clears the landing
    * floor — at these constants N* ≈ 28 K docs, matching the sweep's
    * observed ~30 K crossover. Below it the incremental path's extra
    * sequential jobs (state write + view read + reduced relabel) are pure
    * overhead; above it the batch plan re-pays the whole corpus per
    * landing and stops being runnable long before 100 TB. Both regimes
    * produce identical labels, so the choice never changes answers —
    * only the plan (DedupLogSpec pins equality through the real store). */
  private[graft] val MaintainedLandingFloorMs = 4400.0
  private[graft] val BatchDedupInterceptMs = 1575.0
  private[graft] val BatchDedupSlopeUsPerDoc = 100.0

  private[graft] def chooseMaintained(corpusRows: Long, epochRows: Long): Boolean =
    BatchDedupInterceptMs +
      BatchDedupSlopeUsPerDoc * (corpusRows + epochRows) / 1000.0 >=
      MaintainedLandingFloorMs

  /** The MinHash-LSH near-dup pair frame (d1 < d2, est_jaccard ≥ 0.5) —
    * shared by `dedup_minhash_lsh` and the cluster/keeper assignment.
    *
    * MEGA-BUCKET GUARD (r12): when [[collapseForShape]] says the corpus
    * holds a signature-identical flood (mirror pages, boilerplate — all
    * N copies share every band bucket, so the naive self-join emits
    * ~bands·N²/2 rows that a DISTINCT must absorb before verification
    * sees them; the r12 skew sweep in SCALING.md measured 1.0M joined
    * rows at a 10% flood of sf0.1 vs ~800 guarded), identical-signature documents collapse to
    * one representative BEFORE banding and the verified rep-level pairs
    * expand back through group membership AFTER. The output is PROVABLY
    * plan-independent — est_jaccard is a function of the signature
    * alone, so members inherit their rep's verified pairs verbatim and
    * identical groups pair at est 1.0 by construction — which is why the
    * oracle below stays in its naive form: hash equality proves the
    * guard changes the plan, never the answer. On a flood-free corpus
    * the chooser picks the naive plan and the guard costs ONE map-side
    * aggregation (the r12 first cut collapsed unconditionally and paid
    * 1.5-3× on the hot dedup queries for a shape they don't have). */
  private[llm] def minhashPairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // localCheckpoint, not cache: the frame feeds the bands explode plus
    // both scoring-join sides, and several registered queries share this
    // helper — CacheManager entries would leak across queries in one JVM
    // ("already cached" warnings, storage growth over a 90-query bench).
    // Checkpoint blocks are dropped by the ContextCleaner once the query's
    // frames are garbage-collected; nothing survives in the catalog.
    val sigs = sigsOf(docs).localCheckpoint(eager = false)
    val sigCols = (0 until NumHashes).map(j => col(s"s$j"))
    val shape = sigs.groupBy(xxhash64(sigCols: _*).as("gk"))
      .agg(count(lit(1)).as("c"))
      .agg(max(col("c")), sum(col("c"))).head()
    val (maxGroup, n) = (shape.getLong(0), shape.getLong(1))
    if (!collapseForShape(maxGroup, n)) minhashPairsFrom(sigs, sigs)
    else {
      // one row per distinct signature; min doc_id is the representative.
      // The groupBy partial-aggregates map-side, so a 10M-copy flood
      // collapses to one row per partition before the shuffle.
      val groups = sigs.groupBy(sigCols: _*).agg(min(col("doc_id")).as("rep"))
        .localCheckpoint(eager = false)
      val onSig = (0 until NumHashes)
        .map(j => sigs(s"s$j") === groups(s"s$j")).reduce(_ && _)
      // (doc_id, rep) membership — reps map to themselves
      val membership = sigs.join(groups, onSig)
        .select(sigs("doc_id"), col("rep"))
        .localCheckpoint(eager = false)
      val reps = groups
        .select(col("rep").as("doc_id") +: (0 until NumHashes)
          .map(j => groups(s"s$j")): _*)
        .localCheckpoint(eager = false)
      val verified = minhashPairsFrom(reps, reps)
      // expansion: each rep endpoint fans out to its group's members (a
      // member pair determines its group pair uniquely, so no duplicates);
      // within-group cliques pair at est 1.0 = 32/32 — exactly what the
      // naive verify computes on identical signatures
      val expanded = verified
        .join(membership.as("m1"), col("d1") === col("m1.rep"))
        .join(membership.as("m2"), col("d2") === col("m2.rep"))
        .select(least(col("m1.doc_id"), col("m2.doc_id")).as("d1"),
          greatest(col("m1.doc_id"), col("m2.doc_id")).as("d2"),
          col("est_jaccard"))
      val clique = membership.as("x")
        .join(membership.as("y"),
          col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          lit(1.0).as("est_jaccard"))
      expanded.unionByName(clique)
    }
  }

  /** The 8-band LSH key frame of a wide signature frame — (doc_id, band,
    * key), 8 rows per doc, pure map-side arithmetic. Shared by the batch
    * candidate join and [[DedupLog]]'s delta-vs-committed landing join. */
  private[llm] def bandsOf(sigs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bandCols = (0 until bandsCount).map { b =>
      val key = (1 until BandRows).foldLeft(col(s"s${b * BandRows}")) {
        (acc, r) => acc * 31 + col(s"s${b * BandRows + r}")
      }
      struct(lit(b).as("band"), key.as("key"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Signature-verify a candidate pair frame (d1, d2): est_jaccard =
    * matching-signature share, kept at ≥ 0.5 — the exact verifier both
    * the batch path and the incremental landing share. */
  private[llm] def verifyPairs(cand: org.apache.spark.sql.DataFrame,
      sigSrc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val matches = (0 until NumHashes)
      .map(j => when(col(s"a.s$j") === col(s"b.s$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sigSrc.as("a"), col("d1") === col("a.doc_id"))
      .join(sigSrc.as("b"), col("d2") === col("b.doc_id"))
      .select(col("d1"), col("d2"), (matches / 32.0).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** Band → bucket self-join → signature verify over the given frame
    * (the whole corpus on the naive plan; representatives only under the
    * flood collapse). */
  private[llm] def minhashPairsFrom(bandSrc: org.apache.spark.sql.DataFrame,
      verifySrc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bands = bandsOf(bandSrc)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    verifyPairs(cand, verifySrc)
  }

  /** DuckDB CTE chain ending in `pairs(d1, d2)` — the oracle text twin of
    * [[minhashPairs]], DELIBERATELY in the naive all-docs-banded form:
    * the engine's signature-identical collapse + expansion is provably
    * answer-preserving, and hashing the guarded plan against the
    * unguarded oracle is that proof, query by query. */
  private[llm] def minhashPairsSqlCtes(from: String = "documents"): String = {
    val bandSelects = (0 until bandsCount)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKey(b)} AS key FROM sigs")
      .mkString("\n  UNION ALL ")
    val matches = (0 until NumHashes)
      .map(j => s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""${sigsSql(from)},
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
       |    AND x.doc_id < y.doc_id),
       |est AS (
       |  SELECT d1, d2, ($matches) / 32.0 AS est_jaccard
       |  FROM cand JOIN sigs a ON cand.d1 = a.doc_id JOIN sigs b ON cand.d2 = b.doc_id),
       |pairs AS (SELECT d1, d2 FROM est WHERE est_jaccard >= 0.5)""".stripMargin
  }

  /** Edit-distance threshold for [[all]]'s `dedup_edit_distance`. */
  private val EditK = 10

  /** Min-label propagation over the undirected pair graph → (node, label):
    * every node of the pair graph labeled with its connected component's
    * min doc_id. Shared by `dedup_clusters` and the keeper-selection query;
    * see the `dedup_clusters` commentary for the convergence-control and
    * lineage-truncation rationale. */
  private[graft] def clusterLabels(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // localCheckpoint (not cache): each round's logical plan would
    // otherwise still carry the whole MinHash lineage + every earlier
    // round — re-analyzed and re-optimized per round on the driver.
    // Truncating the lineage keeps round N's plan a constant 3 nodes.
    val edges = pairs
      .union(pairs.select(col("d2"), col("d1")))
      .toDF("src", "dst")
      .localCheckpoint(eager = false)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(eager = false)
    // one propagation hop: every node takes the min of its own label and
    // its neighbors' labels
    def hop(l: org.apache.spark.sql.DataFrame) = {
      val viaNeighbors = edges.join(l, col("dst") === col("node"))
        .select(col("src").as("node"), col("label"))
      l.unionByName(viaNeighbors)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
    }
    // pointer jump: every node shortcuts to its label's label (labels
    // always point inside the node's own component, so the jump stays
    // in-component, is monotone decreasing, and compresses long chains
    // the way plain hops cannot — hop+jump converges in O(log diameter)
    // rounds vs O(diameter) for hops alone). The self-join runs on the
    // label frame only, never the edge list.
    def jump(l: org.apache.spark.sql.DataFrame) = {
      val lc = l.localCheckpoint(eager = false) // referenced twice below
      val ptr = lc.select(col("node").as("pnode"), col("label").as("plabel"))
      lc.join(ptr, col("label") === col("pnode"))
        .select(col("node"), col("plabel").as("label"))
    }
    var rounds = 0
    var prevCnt = -1L
    var prevSum: java.math.BigDecimal = null
    var converged = false
    while (!converged && rounds < 12) {
      // hop → jump → hop → jump per scheduled round: the iteration is
      // latency-bound (sequential driver jobs over tiny label frames,
      // not shuffle volume — measured diameter 16 on the sf0.1 embedding
      // pair graph), so fusing the whole compound step into one action
      // cuts the job count; the jumps make effective reach grow
      // geometrically. Convergence on the fused step is sound: labels
      // only decrease and every intermediate label is an in-component
      // node id, so next == labels forces hop(labels) == labels (the
      // one-hop fixpoint, which is the component min).
      //
      // Convergence witness (r15): the node set is fixed after round 1
      // (hop unions neighbors of existing nodes; jump's inner join keeps
      // every node) and labels are monotone NON-INCREASING per node, so
      // (count, Σlabel) unchanged across a round ⟺ no label changed —
      // one tiny map-side-combinable aggregate replaces the former
      // next⋈labels diff-count join (−2 stages per round, same rounds,
      // same fixpoint; Σ as decimal(38,0) cannot overflow at any scale).
      val next = jump(hop(jump(hop(labels)))).localCheckpoint(eager = false)
      val st = next.agg(count(lit(1)),
        sum(col("label").cast("decimal(38,0)"))).head()
      val (c, sm) = (st.getLong(0), st.getDecimal(1))
      converged = prevCnt == c && prevSum != null && prevSum.compareTo(sm) == 0
      prevCnt = c; prevSum = sm
      labels = next
      rounds += 1
    }
    labels
  }

  /** Large-star/small-star connected components (Kiveris et al., SoCC
    * 2014) → (node, label): the O(log n)-round contraction that replaces
    * [[clusterLabels]]' O(diameter) min-label rounds on high-diameter
    * graphs (the 0.4-threshold embedding pair graph measures diameter 16
    * at sf0.1 — propagation pays 16 rounds, the stars ~5). Every node of
    * the pair graph is labeled with its component min; each operation is
    * one groupBy + one join, no windows, no driver-side graph. Shared by
    * `dedup_clusters_star` and the SemDeDup query. */
  private[graft] def clusterLabelsStar(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // symmetric edge SET, clustered by u in ONE exchange (r16, guide
    // §2.4): hash(u) clusters (u, v) too, so the dedup, the per-u min,
    // and the sym⋈min join below all reuse this single repartition —
    // the former union.distinct()/groupBy/join chain paid three
    // exchanges per pass over the same KB-sized frame, and with AQE
    // every exchange is its own sequential stage-materialization job.
    // Width left to AQE (no pinned count): the per-round frames are
    // KB-sized and a pinned 32-way width measured 64-task union stages
    // whose task-binary deserialization dwarfed the rows.
    def symBy(e: org.apache.spark.sql.DataFrame) = {
      val f = e.filter(col("u") =!= col("v"))
      f.union(f.select(col("v"), col("u")))
        .repartition(col("u"))
        .dropDuplicates("u", "v")
    }
    // large-star: (v, m) for every neighbor v > u. No trailing distinct:
    // its only consumer is smallStar, whose symBy dedups — duplicate
    // edges cannot change a set-valued round (the former .distinct()
    // paid one more exchange for rows symBy collapses anyway).
    def largeStar(e: org.apache.spark.sql.DataFrame) = {
      val sym = symBy(e)
      sym.join(sym.groupBy(col("u")).agg(min(col("v")).as("mv")), "u")
        .withColumn("m", least(col("mv"), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star: m over the ≤-neighborhood; (v, m) for those v plus u.
    // The trailing distinct stays — `next` must be a SET for the
    // symmetric-difference convergence check below.
    def smallStar(e: org.apache.spark.sql.DataFrame) = {
      val sym = symBy(e)
      val small = sym.filter(col("v") < col("u"))
      val m = small.groupBy(col("u")).agg(min(col("v")).as("m"))
      small.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m")))
        .distinct()
    }
    // distinct() up front: the symmetric-difference convergence check
    // below assumes both frames are SETS (each edge at most once)
    var edges = pairs.toDF("u", "v").distinct().localCheckpoint(eager = false)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 30) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      // convergence = |next Δ edges| in ONE job: both frames are distinct
      // edge sets, so a tagged union grouped by (u, v) sees each edge 1 or
      // 2 times — count-1 groups are the symmetric difference. The former
      // two except().count() actions each paid their own distinct shuffle
      // and job latency per round.
      changed = next.select(col("u"), col("v"), lit(1).as("t"))
        .unionByName(edges.select(col("u"), col("v"), lit(2).as("t")))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("nt"))
        .filter(col("nt") === 1).count()
      edges = next
      rounds += 1
    }
    // converged: edges are (node → component-min) stars; roots self-label
    edges.select(col("u").as("node"), col("v").as("label"))
      .union(edges.select(col("v"), col("v")).distinct())
      .distinct()
  }

  /** REGIME CHOOSER for the two component resolvers, derived from
    * measured pair-graph shape instead of a per-call-site code choice.
    * The repo's own measurements pin the boundary:
    *
    *  - sf0.1 embedding pair graph (diameter 16, mean degree ~2-4,
    *    pair volume small): min-label's hop+jump rounds are LIGHTER than
    *    the stars' two sym/distinct/groupBy passes — 4.7 s vs 6.8-8 s
    *    (Similarity.scala semanticKeepQuery doc). Low-degree dedup
    *    graphs (near-dup cliques, degree 1-3) converge in 1-2 rounds.
    *  - sf1 spatial core graph (15 K nodes, 139 K pairs, mean degree
    *    ~18.5: a geometric giant component near percolation, diameter
    *    grows with extent): min-label paid O(diameter) rounds over a
    *    frame that stopped being tiny — 25 min vs star contraction's
    *    9.7 s (r9, SCALING.md).
    *
    * Rule: STAR when mean degree ≥ [[StarMeanDegree]] (pinned at 8,
    * between the measured regimes — high degree is the giant-component /
    * long-diameter signature on similarity graphs) OR when the edge
    * count alone reaches [[StarEdgeCount]] (the scale guard: star's
    * O(log n) round bound caps the worst case where min-label's
    * O(diameter) is unbounded; at that volume the stars' heavier rounds
    * are noise against the risk). Both resolvers label every node with
    * its component MIN, so the choice never changes results — only the
    * plan. The stats come from ONE aggregation over the checkpointed
    * edge list (endpoint union: count = 2|E|, distinct = |V|), which the
    * chosen resolver then reuses. */
  private[graft] val StarMeanDegree = 8.0
  private[graft] val StarEdgeCount = 2000000L

  private[graft] def chooseStar(nodes: Long, edges: Long): Boolean =
    edges >= StarEdgeCount ||
      (nodes > 0 && 2.0 * edges / nodes >= StarMeanDegree)

  /** Driver-side resolution bound for [[clusterLabelsAuto]] (r15, guide
    * §2.6 latency): below this edge count the pair graph is collected and
    * resolved by union-find in microseconds instead of 40-100 sequential
    * Spark stage barriers of min-label/star rounds — profiled at sf0.1,
    * component resolution was the dominant cost of four registered
    * queries (~2 s each) on pair graphs of 1-3 K edges; the stages were
    * empty-shuffle scheduling, not data. 1 M edges ≈ 16 MB on the driver
    * — the broadcast-join small-side budget applied to the CC axis; the
    * label output re-enters the plan as a broadcast-joinable local
    * relation. Beyond the bound the distributed resolvers take over
    * unchanged. All three resolvers label every node with its component
    * MIN, so the regime never changes answers — only the plan
    * (ResolverChoiceSpec pins all three value-identical). */
  private[graft] val DriverCcEdges = 1000000L

  /** Collect a provably small pair graph and resolve components with
    * union-find (path-halving); output = (node, label = component min) —
    * exactly the fixpoint the distributed resolvers reach. */
  private[graft] def clusterLabelsDriver(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("d1").cast("long"), col("d2").cast("long")).collect()
    require(edges.length <= DriverCcEdges,
      s"clusterLabelsDriver: |E|=${edges.length} exceeds $DriverCcEdges — route to a distributed resolver")
    val idx = scala.collection.mutable.HashMap.empty[Long, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(v: Long): Int = idx.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    val es = edges.map(r => (id(r.getLong(0)), id(r.getLong(1))))
    val parent = Array.tabulate(ids.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.HashMap.empty[Int, Long]
    var i = 0
    while (i < ids.length) {
      val r = find(i)
      if (ids(i) < minOf.getOrElse(r, Long.MaxValue)) minOf(r) = ids(i)
      i += 1
    }
    val rows = (0 until ids.length).map(j => (ids(j), minOf(find(j))))
    import spark.implicits._
    spark.createDataset(rows).toDF("node", "label")
  }

  /** Resolve components with the regime picked from the measured
    * (|V|, |E|) of this pair graph: driver union-find below
    * [[DriverCcEdges]], else stars vs min-label by [[chooseStar]]. */
  private[graft] def clusterLabelsAuto(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = pairs.toDF("d1", "d2").filter(col("d1") =!= col("d2"))
      .localCheckpoint(eager = false)
    val st = e.select(col("d1").as("n"))
      .unionByName(e.select(col("d2").as("n")))
      .agg(countDistinct(col("n")).as("nodes"), count(lit(1)).as("deg2"))
      .head()
    val (nodes, edges) = (st.getLong(0), st.getLong(1) / 2)
    if (st.getLong(1) <= DriverCcEdges) clusterLabelsDriver(e)
    else if (chooseStar(nodes, edges)) clusterLabelsStar(e)
    else clusterLabels(e)
  }

  val all: Seq[GraftQuery] = Seq(
    // ---- edit-distance near-dup pairs: the STRING-METRIC verifier of the
    // dedup family (Jaccard/MinHash see bags of shingles; Levenshtein sees
    // order — transposed paragraphs look identical to set metrics but not
    // to this one). Lossless q-gram COUNT FILTER (Gravano et al. 2001;
    // Ed-Join's base bound): one edit disturbs ≤ q distinct q-grams, so
    // lev(A,B) ≤ K ⇒ |shingles(A) ∩ shingles(B)| ≥ max(|A|,|B|) − K·q.
    // Candidates come from one shingle-hash equi-join + count (hash
    // collisions only ADD candidates — still lossless), then the exact
    // levenshtein runs on the few hundred survivors, never on n² pairs.
    // At 100 TB the count filter composes with PPJoin-style prefix
    // pruning (Ed-Join §4) exactly like the Jaccard twin. Judged against
    // a brute-force oracle truth-set (verified equal at sf0.01: 25 = 25).
    //
    // Short-document completeness: the count filter's bound max(n1,n2)−K·q
    // is ≤ 0 when BOTH docs have ≤ K·q distinct shingles, i.e. such a pair
    // can be within distance K while sharing ZERO shingles — invisible to
    // the shingle equi-join. (If either doc is long, nc ≥ n_long − K·q ≥ 1
    // forces a shared shingle, so only both-short pairs can escape.) Those
    // docs are cross-paired explicitly via a LENGTH-BAND equi-join:
    // lev(A,B) ≤ K ⇒ |len(A)−len(B)| ≤ K, so with band = len div (K+1)
    // qualifying pairs sit in adjacent bands — the probe side expands to
    // {b−1, b, b+1} and each pair matches exactly once on the build side's
    // own band. Still an equi-join (no nested loop), and at 100 TB the
    // short set shards by band instead of ever going quadratic.
    q("dedup_edit_distance", {
      val kq = EditK * TextHash.ShingleLen
      s"""WITH sh AS (${TextHash.shinglesSql()}),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS nc
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         |  WHERE nc >= s1.n - $kq AND nc >= s2.n - $kq),
         |short AS (
         |  SELECT s.doc_id, len(t.text) AS ln
         |  FROM sizes s JOIN documents t ON s.doc_id = t.doc_id
         |  WHERE s.n <= $kq),
         |allcand AS (
         |  SELECT d1, d2 FROM cand
         |  UNION
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM short a JOIN short b
         |  ON a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= $EditK)
         |SELECT d1, d2, CAST(lev AS BIGINT) AS edit_distance
         |FROM (
         |  SELECT d1, d2, levenshtein(t1.text, t2.text) AS lev
         |  FROM allcand JOIN documents t1 ON d1 = t1.doc_id
         |  JOIN documents t2 ON d2 = t2.doc_id)
         |WHERE lev <= $EditK""".stripMargin
    }) { (s, d) =>
      val kq = EditK * TextHash.ShingleLen
      val docs = Tables.documentsParallel(s, d)
      // per-doc sorted distinct shingle-hash sets (the ngram-jaccard
      // layout): feeds the prefix, the candidate verify, and the sizes
      val ds = docs.select(col("doc_id"),
        sort_array(TextHash.shingleHashArray(col("text"))).as("hs"))
        .withColumn("n", size(col("hs")))
        .localCheckpoint(eager = false)
      val hs = ds.select(col("doc_id"), explode(col("hs")).as("h"))
      val sizes = ds.select(col("doc_id"), col("n"))
      // Ed-Join prefix filter (Xiao et al. prefix-filtering lemma applied
      // to the q-gram count bound; r15 — guide §2.3/§3.2): a candidate
      // pair must share ≥ max(n1,n2) − K·q shingles, so under ANY global
      // token order their (K·q + 1)-prefixes must intersect (if A's whole
      // prefix missed B, A would carry K·q+1 shingles outside B). The
      // candidate join therefore touches only each doc's K·q+1 RAREST
      // shingles (rarest-first order concentrates selectivity) instead of
      // all ~2K — the full-shingle self-join + per-pair count was the
      // query's dominant stage (profiled 18.8 cpu-s, 47 MB shuffle; now
      // the intersection count runs as the codegen'd sorted-merge walk on
      // surviving candidates only). Lossless: every count-filter survivor
      // shares a prefix token, and the count filter itself is unchanged.
      val freq = hs.groupBy(col("h")).agg(count(lit(1)).as("f"))
      val prefix = hs
        .join(freq, "h")
        .withColumn("r", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("f"), col("h"))))
        .filter(col("r") <= kq + 1)
        .select(col("doc_id"), col("h"))
      val cand = prefix.as("x")
        .join(prefix.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
        .join(ds.select(col("doc_id").as("d1"), col("hs").as("hs1"), col("n").as("n1")), Seq("d1"))
        .join(ds.select(col("doc_id").as("d2"), col("hs").as("hs2"), col("n").as("n2")), Seq("d2"))
        .filter(graft.functions.SortedIntersectCount(col("hs1"), col("hs2"))
          >= greatest(col("n1"), col("n2")) - kq)
        .select(col("d1"), col("d2"))
      // both-short pairs the shingle join cannot see: length-band equi-join
      // (band width K+1 ⇒ |len diff| ≤ K pairs are in adjacent bands; the
      // probe side explodes to 3 band keys, each pair matches exactly once
      // against the build side's own band)
      // each short doc also carries its SORTED char-code array: the q=1
      // twin of the shingle count filter (lev ≤ K ⇒ shared char
      // OCCURRENCES ≥ max(len1, len2) − K — one edit disturbs one
      // occurrence), evaluated as the same codegen'd merge walk. The band
      // join enumerates ~100K pairs; this lossless bound kills almost all
      // of them before the O(n²) DP ever runs.
      val short = sizes.filter(col("n") <= kq)
        .join(docs.select(col("doc_id"), col("text"), length(col("text")).as("ln")), Seq("doc_id"))
        .withColumn("band", expr(s"ln div ${EditK + 1}"))
        .withColumn("ca", expr(
          "sort_array(transform(sequence(1, length(text)), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)))"))
      val shortPairs = short
        .select(col("doc_id").as("d1"), col("ln").as("ln1"), col("ca").as("ca1"),
          explode(array(col("band") - 1, col("band"), col("band") + 1)).as("band"))
        .join(short.select(col("doc_id").as("d2"), col("ln").as("ln2"),
          col("ca").as("ca2"), col("band")), Seq("band"))
        .filter(col("d1") < col("d2") && abs(col("ln1") - col("ln2")) <= EditK &&
          graft.functions.SortedIntersectCount(col("ca1"), col("ca2"))
            >= greatest(col("ln1"), col("ln2")) - EditK)
        .select(col("d1"), col("d2"))
      // RE-WIDEN before the DP: the distinct's output is ~2 MB of id
      // pairs, which AQE (correctly, by size) coalesces to one partition —
      // but each row then costs an O(|s1|·|s2|) levenshtein, so the whole
      // verification stage ran on ONE core (measured: 61 cpu-s at 3.2
      // cores busy = 19 s; re-widened: the same cpu across all cores).
      // Size-based coalescing is blind to compute-heavy projections — the
      // explicit repartition re-states the parallelism for pennies (one
      // tiny shuffle of id pairs).
      // thresholded levenshtein (Spark ≥3.5): the DP explores only the
      // ±K diagonal band — O(K·n) per pair instead of O(n²), a ~n/K
      // speedup on ~2K-char docs — and returns -1 above the threshold;
      // in-band distances are exactly the unbounded distances the oracle
      // computes, so the surviving rows are bit-identical
      cand.union(shortPairs).distinct()
        .repartition(s.sparkContext.defaultParallelism)
        .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), Seq("d1"))
        .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), Seq("d2"))
        .select(col("d1"), col("d2"),
          levenshtein(col("t1"), col("t2"), EditK).cast("long").as("edit_distance"))
        .filter(col("edit_distance") >= 0)
    },

    // ---- exact dedup: md5-hash groups, keeper = min doc_id
    q("dedup_exact",
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_doc_id,
        |  COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
        |  doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
        |FROM documents""".stripMargin) { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
      Tables.documents(s, d).select(
        col("doc_id"),
        min(col("doc_id")).over(w).as("keeper_doc_id"),
        count(lit(1)).over(w).as("group_size"),
        (col("doc_id") =!= min(col("doc_id")).over(w)).as("is_duplicate"))
    },

    // ---- exact n-gram Jaccard with PPJoin-style prefix filtering: the
    // Spark plan generates candidates only from each document's
    // (|A| − ⌈τ|A|⌉ + 1)-token prefix under a global rarest-first token
    // order (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    // Detection", prefix-filtering lemma) — lossless for jaccard ≥ τ, and
    // it turns the quadratic all-shingle self-join into a join on rare
    // tokens only (76 s → ~8 s at sf0.1; the naive oracle SQL keeps the
    // same result set by definition)
    q("dedup_ngram_jaccard",
      s"""WITH sh AS (${shinglesSql()}),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS n_common
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id),
         |jac AS (
         |  SELECT d1, d2, n_common * 1.0 / (s1.n + s2.n - n_common) AS jaccard
         |  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id)
         |SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.8""".stripMargin) { (s, d) =>
      val tau = 0.8
      // per-doc sorted shingle-hash sets: narrow compute, materialized once
      // (localCheckpoint — GC-scoped, no CacheManager entry) because they
      // feed freq, prefix, and both sides of verification
      val ds = Tables.documentsParallel(s, d)
        .select(col("doc_id"),
          sort_array(shingleHashArray(col("text"))).as("hs"))
        .withColumn("n", size(col("hs")))
        .localCheckpoint(eager = false)
      val hs = ds.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
      val freq = hs.groupBy(col("h")).agg(count(lit(1)).as("f"))
      // r = the token's position in the doc's full rarest-first order —
      // kept past the prefix cut because the positional filter needs it
      val prefix = hs
        .join(freq, "h")
        .withColumn("r", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("f"), col("h"))))
        .filter(col("r") <= col("n") - ceil(col("n") * tau) + 1)
        .select(col("doc_id"), col("h"), col("n"), col("r"))
      // candidates: prefix-token equality under the global rarest-first
      // hash order + Jaccard length filter (τ|A| ≤ |B| ≤ |A|/τ) — both
      // lossless for jaccard ≥ τ. PPJoin positional filter (Xiao et al.
      // §3.2): a token shared at positions (px, py) of the sorted sets
      // bounds the overlap by min(px−1, py−1) + 1 + min(a−px, b−py);
      // a pair survives only if its best bound reaches the τ-required
      // overlap ⌈τ/(1+τ)·(a+b)⌉ — lossless, and it kills the candidates
      // plain prefix equality keeps (hot boilerplate tokens matching at
      // incompatible positions). The groupBy replaces the distinct() the
      // non-positional version paid anyway — same shuffle, more pruning.
      val ub = least(col("px.r") - 1, col("py.r") - 1) + 1 +
        least(col("px.n") - col("px.r"), col("py.n") - col("py.r"))
      val cand = prefix.as("px")
        .join(prefix.as("py"),
          col("px.h") === col("py.h") && col("px.doc_id") < col("py.doc_id") &&
            col("py.n") * 1.0 >= col("px.n") * tau && col("py.n") * 1.0 <= col("px.n") / tau)
        .select(col("px.doc_id").as("d1"), col("py.doc_id").as("d2"),
          ub.as("ub"), col("px.n").as("a"), col("py.n").as("b"))
        .groupBy(col("d1"), col("d2"))
        .agg(max(col("ub")).as("best_ub"), first(col("a")).as("a"), first(col("b")).as("b"))
        .filter(col("best_ub") >= (col("a") + col("b")) * lit(tau) / lit(1 + tau))
        .select(col("d1"), col("d2"))
      // verification: per-pair codegen'd sorted-merge intersection
      cand
        .join(ds.as("s1"), col("d1") === col("s1.doc_id"))
        .join(ds.as("s2"), col("d2") === col("s2.doc_id"))
        .select(col("d1"), col("d2"),
          graft.functions.SortedIntersectCount(col("s1.hs"), col("s2.hs")).as("n_common"),
          col("s1.n").as("n1"), col("s2.n").as("n2"))
        .select(col("d1"), col("d2"),
          (col("n_common") * 1.0 / (col("n1") + col("n2") - col("n_common"))).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
    },

    // ---- CONTAINMENT near-dup pairs: the ASYMMETRIC set metric
    // C(A→B) = |A∩B| / |A| — sub-document duplication Jaccard cannot see
    // (a doc pasted inside a much larger one scores high containment but
    // low Jaccard because the union is dominated by B). Candidates use the
    // A-side prefix filter only (containment ≥ τ needs ≥ ⌈τ|A|⌉ shared
    // tokens, so A's (|A| − ⌈τ|A|⌉ + 1)-token rarest-first prefix must hit
    // B — lossless; there is deliberately NO length filter, B may be any
    // size). Verification is the codegen'd sorted-merge intersection.
    q("dedup_containment", {
      val tau = 0.7
      s"""WITH sh AS (${shinglesSql()}),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS d_src, y.doc_id AS d_dst, COUNT(*) AS n_common
         |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id <> y.doc_id
         |  GROUP BY 1, 2),
         |cont AS (
         |  SELECT d_src, d_dst, n_common * 1.0 / s.n AS containment
         |  FROM inter JOIN sizes s ON d_src = s.doc_id)
         |SELECT d_src, d_dst, containment FROM cont WHERE containment >= $tau""".stripMargin
    }) { (s, d) =>
      val tau = 0.7
      val ds = Tables.documentsParallel(s, d)
        .select(col("doc_id"),
          sort_array(shingleHashArray(col("text"))).as("hs"))
        .withColumn("n", size(col("hs")))
        .localCheckpoint(eager = false)
      val hs = ds.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
      val freq = hs.groupBy(col("h")).agg(count(lit(1)).as("f"))
      val prefixA = hs
        .join(freq, "h")
        .withColumn("r", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("f"), col("h"))))
        .filter(col("r") <= col("n") - ceil(col("n") * tau) + 1)
        .select(col("doc_id"), col("h"))
      val cand = prefixA.as("x")
        .join(hs.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.doc_id").as("d_src"), col("y.doc_id").as("d_dst"))
        .distinct()
      cand
        .join(ds.as("s1"), col("d_src") === col("s1.doc_id"))
        .join(ds.as("s2"), col("d_dst") === col("s2.doc_id"))
        .select(col("d_src"), col("d_dst"),
          (graft.functions.SortedIntersectCount(col("s1.hs"), col("s2.hs")) * 1.0
            / col("s1.n")).as("containment"))
        .filter(col("containment") >= tau)
    },

    // ---- MinHash + LSH: 32 signatures, 8 bands × 4 rows; candidates come
    // ONLY from band-bucket equality joins (the 100 TB path), then are
    // scored by signature agreement. The signature frame is cached — it
    // feeds the bands self-join and both sides of the scoring join.
    q("dedup_minhash_lsh",
      s"""WITH ${minhashPairsSqlCtes()}
         |SELECT d1, d2, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin) { (s, d) =>
      minhashPairs(Tables.documentsParallel(s, d))
    },

    // ---- duplicate-cluster resolution: near-dup PAIRS are not enough to
    // drop rows — the pipeline needs one keeper per connected component of
    // the pair graph. Spark side: iterative min-label propagation (each
    // node takes the min label among itself and its neighbors until
    // fixpoint) — converges in O(graph diameter) rounds; near-dup clusters
    // are tiny cliques, so 2-3 rounds in practice, with a driver-side
    // convergence count per round (the standard Pregel/GraphX control
    // shape; at extreme scale swap in large-star/small-star to cut
    // diameters). Oracle: recursive CTE propagating labels to a fixpoint —
    // identical result, declarative recursion.
    q("dedup_clusters",
      s"""WITH RECURSIVE ${minhashPairsSqlCtes()},
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
         |labeled AS (
         |  SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_keeper
         |  FROM reach GROUP BY node)
         |SELECT doc_id, cluster_keeper,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_keeper) AS BIGINT) AS cluster_size,
         |  doc_id <> cluster_keeper AS is_duplicate
         |FROM labeled""".stripMargin) { (s, d) =>
      val labels = clusterLabels(
        minhashPairs(Tables.documentsParallel(s, d)).select(col("d1"), col("d2")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_keeper"))
      labels
        .select(col("node").as("doc_id"), col("label").as("cluster_keeper"))
        .select(col("doc_id"), col("cluster_keeper"),
          count(lit(1)).over(w).as("cluster_size"),
          (col("doc_id") =!= col("cluster_keeper")).as("is_duplicate"))
    },

    // ---- duplicate-cluster resolution, large-star/small-star variant:
    // the O(log n)-round connected-components contraction (Kiveris et al.,
    // "Connected Components in MapReduce and Beyond", SoCC 2014) that
    // replaces min-label propagation's O(diameter) rounds at extreme
    // scale. large-star hangs every neighbor larger than u off u's
    // component min; small-star re-hangs the smaller neighbors; the
    // alternation contracts any graph to min-rooted stars in logarithmic
    // rounds. Each operation is one groupBy + one join — no windows, no
    // driver-side graph. Oracle: the same recursive-CTE fixpoint as
    // `dedup_clusters` (identical output, different algorithm).
    q("dedup_clusters_star",
      s"""WITH RECURSIVE ${minhashPairsSqlCtes()},
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
         |labeled AS (
         |  SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_keeper
         |  FROM reach GROUP BY node)
         |SELECT doc_id, cluster_keeper,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_keeper) AS BIGINT) AS cluster_size,
         |  doc_id <> cluster_keeper AS is_duplicate
         |FROM labeled""".stripMargin) { (s, d) =>
      val labels = clusterLabelsStar(
        minhashPairs(Tables.documentsParallel(s, d)).select(col("d1"), col("d2")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_keeper"))
      labels
        .select(col("node").as("doc_id"), col("label").as("cluster_keeper"))
        .select(col("doc_id"), col("cluster_keeper"),
          count(lit(1)).over(w).as("cluster_size"),
          (col("doc_id") =!= col("cluster_keeper")).as("is_duplicate"))
    },

    // ---- keeper SELECTION POLICY: min-doc_id keeps an arbitrary cluster
    // member; a curation pipeline keeps the BEST one. Same connected
    // components as `dedup_clusters`, then per cluster the representative
    // with the highest corpus quality score ([[TextAnalysis.qualityScore]]
    // — the one shared definition), doc_id-ascending on exact ties. The
    // quality join is doc-keyed (narrow vs the corpus), the argmax window
    // is per cluster — state bounded by cluster size, never corpus size.
    q("dedup_keep_best_quality",
      s"""WITH RECURSIVE ${minhashPairsSqlCtes()},
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
         |labeled AS (
         |  SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY node),
         |qual AS (
         |  SELECT doc_id, ${TextAnalysis.qualityScoreSql("text")} AS quality_score
         |  FROM documents),
         |ranked AS (
         |  SELECT l.doc_id, l.cluster_id, q.quality_score,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |      ORDER BY q.quality_score DESC, l.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
         |  FROM labeled l JOIN qual q ON l.doc_id = q.doc_id)
         |SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
         |  doc_id AS keeper_doc_id, quality_score AS keeper_quality
         |FROM ranked WHERE rn = 1""".stripMargin) { (s, d) =>
      val docs = Tables.documentsParallel(s, d)
      val labels = clusterLabelsAuto(minhashPairs(docs).select(col("d1"), col("d2")))
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val qual = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality_score"))
      val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
      labels.join(qual, "doc_id")
        .withColumn("rn", row_number().over(
          byCluster.orderBy(col("quality_score").desc, col("doc_id"))))
        .withColumn("cluster_size", count(lit(1)).over(byCluster))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("cluster_size"),
          col("doc_id").as("keeper_doc_id"), col("quality_score").as("keeper_quality"))
    },

    // ---- SOFT deduplication (SoftDedup, ACL 2024: reweight duplicated
    // data instead of removing it — hard dedup discards signal a
    // duplicated-but-good document still carries; downweighting by
    // duplication degree keeps the effective token distribution flat
    // without the cliff): every document gets sampling weight
    // 1e6 // cluster_size in exact ppm, where the clusters are the SAME
    // MinHash-LSH connected components the hard-dedup family resolves
    // (shared [[clusterLabels]]), and out-of-cluster documents keep
    // weight 1e6. The weight column multiplies into any downstream
    // sampler (the PPS machinery consumes exactly this shape). Scale:
    // the label frame holds only docs that appear in a duplicate pair
    // (≪ corpus), sizes re-aggregate from it; the corpus appears once,
    // in the final doc-keyed left join.
    q("dedup_soft_weights",
      s"""WITH RECURSIVE ${minhashPairsSqlCtes()},
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node),
         |labeled AS (
         |  SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY node),
         |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM labeled GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
         |  CAST(COALESCE(sz.n, 1) AS BIGINT) AS cluster_size,
         |  CAST(1000000 // COALESCE(sz.n, 1) AS BIGINT) AS weight_ppm
         |FROM documents d
         |LEFT JOIN labeled l ON l.doc_id = d.doc_id
         |LEFT JOIN sz ON sz.cluster_id = l.cluster_id""".stripMargin) { (s, d) =>
      val docs = Tables.documentsParallel(s, d)
      val labels = clusterLabelsAuto(minhashPairs(docs).select(col("d1"), col("d2")))
        .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .join(sizes, Seq("cluster_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("n"), lit(1L)).as("cluster_size"),
          expr("1000000L div coalesce(n, 1L)").as("weight_ppm"))
    },

    // ---- SimHash banded hamming join: candidates from 4×8-bit block
    // equality (pigeonhole: hamming ≤ 3 over 4 blocks ⇒ at least one block
    // is identical, so the band join is LOSSLESS for the ≤3 threshold —
    // unlike the probabilistic minhash/hyperplane bands), verified by
    // bit_count(xor). The only joins are block-bucket equalities.
    q("dedup_simhash_pairs", {
      s"""WITH sh AS (${shinglesSql()}),
         |hs AS (SELECT doc_id, ${h64Sql("sh")} AS h FROM sh),
         |votes AS (SELECT doc_id, ${(0 until 32).map(t =>
        s"SUM(CASE WHEN ((h >> $t) & 1) = 1 THEN 1 ELSE -1 END) AS b$t").mkString(", ")}
         |  FROM hs GROUP BY doc_id),
         |sig AS (SELECT doc_id, ${(0 until 32).map(t =>
        s"(CASE WHEN b$t > 0 THEN ${1L << t} ELSE 0 END)").mkString(" + ")} AS simhash
         |  FROM votes),
         |blocks AS (
         |  ${(0 until 4).map(b =>
        s"SELECT doc_id, simhash, $b AS blk, (simhash // ${1L << (8 * b)}) % 256 AS key FROM sig")
        .mkString("\n  UNION ALL ")}),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2, x.simhash AS s1, y.simhash AS s2
         |  FROM blocks x JOIN blocks y ON x.blk = y.blk AND x.key = y.key
         |    AND x.doc_id < y.doc_id)
         |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(s1, s2)) <= 3""".stripMargin
    }) { (s, d) =>
      val sig = Tables.documentsParallel(s, d)
        .select(col("doc_id"),
          graft.functions.SimHashBits(shingleHashArray(col("text"))).as("simhash"))
        .localCheckpoint(eager = false)
      val blockCols = (0 until 4).map { b =>
        struct(lit(b).as("blk"),
          (expr(s"simhash div ${1L << (8 * b)}") % 256).as("key"))
      }
      val blocks = sig
        .select(col("doc_id"), col("simhash"), explode(array(blockCols: _*)).as("bk"))
        .select(col("doc_id"), col("simhash"), col("bk.blk").as("blk"), col("bk.key").as("key"))
      blocks.as("x")
        .join(blocks.as("y"),
          col("x.blk") === col("y.blk") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.simhash").as("s1"), col("y.simhash").as("s2"))
        .distinct()
        .select(col("d1"), col("d2"),
          expr("bit_count(s1 ^ s2)").cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
    },

    // ---- SimHash: 32-bit signature from shingle-hash bit votes, with
    // 16-bit prefix/suffix block keys (the bucketing columns a banded
    // hamming join would use at scale)
    q("dedup_simhash", {
      val votes = (0 until 32)
        .map(t => s"SUM(CASE WHEN ((h >> $t) & 1) = 1 THEN 1 ELSE -1 END) AS b$t")
        .mkString(", ")
      val assemble = (0 until 32)
        .map(t => s"(CASE WHEN b$t > 0 THEN ${1L << t} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH sh AS (${shinglesSql()}),
         |hs AS (SELECT doc_id, ${h64Sql("sh")} AS h FROM sh),
         |votes AS (SELECT doc_id, COUNT(*) AS n_shingles, $votes FROM hs GROUP BY doc_id),
         |sig AS (SELECT doc_id, n_shingles, $assemble AS simhash FROM votes)
         |SELECT doc_id, n_shingles, simhash,
         |  simhash // 65536 AS block_hi, simhash % 65536 AS block_lo
         |FROM sig""".stripMargin
    }) { (s, d) =>
      // fully map-side: hash array -> size + SimHash in one projection
      Tables.documentsParallel(s, d)
        .select(col("doc_id"), shingleHashArray(col("text")).as("hsa"))
        .select(col("doc_id"), size(col("hsa")).cast("long").as("n_shingles"),
          graft.functions.SimHashBits(col("hsa")).as("simhash"))
        .select(col("doc_id"), col("n_shingles"), col("simhash"),
          expr("simhash div 65536").as("block_hi"), (col("simhash") % 65536).as("block_lo"))
    }
  )
}
