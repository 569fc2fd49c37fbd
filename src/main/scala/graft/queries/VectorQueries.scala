package graft.queries

import graft.Tables
import graft.operators.{Similarity, VectorIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search queries over the `embeddings` table: brute-force
  * cosine top-k (exact baseline), sign-LSH bucketed ANN (scale path),
  * k-means IVF ANN, and embedding near-dup pairs (exact all-pairs baseline
  * + the LSH-blocked scale path). Components quantize to integer micros so
  * the cosine doubles are bit-identical to the DuckDB oracle (see
  * [[graft.operators.Similarity]]).
  *
  * Partition counts are DERIVED from corpus size (bucket bits =
  * bitlength(n / targetBucket); IVF cells = clamp(sqrt(n)) with a hashed
  * training sample) so per-bucket/per-cell join cost stays bounded as the
  * corpus grows while the broadcast centroid table stays O(1); each oracle
  * reproduces the derivation in SQL from count(*), so the gate also covers
  * the formulas. Hot buckets AND hot cells are capped
  * ([[Similarity.capBySize]]), mirrored by the oracles' QUALIFY clauses.
  */
object VectorQueries {

  private val TopK = 5
  private val NearDupThreshold = 0.45

  /** Fixed-size query set: the first NQueries ids. A CONSTANT number of
    * queries keeps the broadcast side O(1) in corpus size (a fractional
    * predicate like `vec_id % 10 == 0` makes the exact baseline O(n^2/10)
    * — a scale-killer flagged in round 1).
    */
  private val NQueries = 64

  /** Embedding dimensionality (TESTDATA.md; bounds disjoint table slices). */
  private val EmbedDim = 64

  /** v9: MMR diversified top-k ([[Similarity.mmrTopK]]) — relevance minus
    * max-similarity-to-selected greedy re-rank over a bounded candidate
    * cut, the diversity-aware flavor of v1 used for training-data
    * sampling and retrieval. Candidate generation is the distributed
    * stage; the 4 greedy rounds run over the persisted candidate/pair
    * frames with broadcast joins and deterministic vec_id tiebreaks.
    */
  private val MmrNQueries = 16
  private val MmrCandK = 20
  private val MmrSelectK = 5

  def mmrDiverse(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .mmrTopK(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        col("vec_id") < MmrNQueries,
        MmrCandK,
        MmrSelectK)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))

  /** v10: product-quantization top-k ([[graft.operators.ProductQuant]]) —
    * m=8 subspaces × 8 dims, k=16 codewords each, 2 Lloyd rounds on a
    * hash-sampled training set, asymmetric table-lookup scoring. The
    * corpus is represented by 8 code bytes per vector at query time; the
    * oracle reproduces the whole lifecycle (sample, seeds, per-subspace
    * Lloyd, encoding, ADC scan) in SQL, so codebooks AND ranks are
    * engine-exact integers.
    */
  private val PqM = 8
  private val PqD = EmbedDim / PqM
  private val PqK = 16
  private val PqIters = 2
  private val PqTopK = 5
  private val PqNQueries = 16
  private val PqTrainPerCode = 32L

  def pqTopKQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val stride = math.max(1L, n / (PqK * PqTrainPerCode))
    graft.operators.ProductQuant
      .pqTopK(
        emb,
        "vec_id",
        "embedding",
        col("vec_id") < PqNQueries,
        PqM,
        PqD,
        PqK,
        PqIters,
        PqTopK,
        stride)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))
  }

  /** v11: PQ quality evaluation — recall@k of the v10 table-lookup scan
    * against the exact integer-cosine top-k over the same query set (the
    * v6 continuous-monitoring pattern, for the PQ plane). Hits and totals
    * gate as exact integers; recall is their one double division.
    */
  def pqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val stride = math.max(1L, n / (PqK * PqTrainPerCode))
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < PqNQueries, PqTopK)
      .select(col("query_id"), col("vec_id"))
    val approx = graft.operators.ProductQuant
      .pqTopK(
        emb,
        "vec_id",
        "embedding",
        col("vec_id") < PqNQueries,
        PqM,
        PqD,
        PqK,
        PqIters,
        PqTopK,
        stride)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    exact
      .join(approx, Seq("query_id", "vec_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_expected"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_expected").cast("double"))
  }

  /** v12: IVF+PQ — [[graft.operators.ProductQuant.ivfPqTopK]], the
    * composed production ANN stack: v3/v4's coarse quantizer narrows each
    * query to its NProbe nearest cells, v10's asymmetric PQ tables score
    * only those candidates. IVF parameters are v3/v4's, PQ parameters
    * v10's, so the oracle composes the two existing SQL lifecycles
    * unchanged — the gate proves the COMPOSITION (candidate restriction +
    * table-lookup scoring) is engine-exact, with both trainers' outputs
    * pinned through it.
    */
  def ivfPqTopKQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val stride = math.max(1L, n / (PqK * PqTrainPerCode))
    graft.operators.ProductQuant
      .ivfPqTopK(
        emb,
        "vec_id",
        "embedding",
        col("vec_id") < PqNQueries,
        IvfFloorCells,
        IvfCapCells,
        LloydIters,
        MaxCell,
        IvfTrainPerCell,
        NProbe,
        PqM,
        PqD,
        PqK,
        PqIters,
        PqTopK,
        stride)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))
  }

  /** v13: quality monitor for the composed v12 index — recall@k of the
    * IVF+PQ scan against the exact cosine top-k over the same queries
    * (the v6/v11 continuous-monitoring pattern). The composed path loses
    * recall two ways — a true neighbor's cell outside the probe set, and
    * PQ code quantization reordering the survivors — and this gate pins
    * the compound loss as a measured value, exact hit counts crossing
    * the gate and recall their one double division.
    */
  def ivfPqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val stride = math.max(1L, n / (PqK * PqTrainPerCode))
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < PqNQueries, PqTopK)
      .select(col("query_id"), col("vec_id"))
    val approx = graft.operators.ProductQuant
      .ivfPqTopK(
        emb,
        "vec_id",
        "embedding",
        col("vec_id") < PqNQueries,
        IvfFloorCells,
        IvfCapCells,
        LloydIters,
        MaxCell,
        IvfTrainPerCell,
        NProbe,
        PqM,
        PqD,
        PqK,
        PqIters,
        PqTopK,
        stride)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    exact
      .join(approx, Seq("query_id", "vec_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_expected"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_expected").cast("double"))
  }

  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .bruteForceTopK(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        col("vec_id") < NQueries,
        TopK)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))

  /** v2 ANN bucket sizing: ~2 vectors per bucket (nearest-neighbor probes
    * want near-singleton buckets; n=500 derives the round-2 value b=8).
    * Hot buckets (a sign pattern shared by > MaxBucket vectors) are
    * dropped before the self-join — without the cap one degenerate
    * pattern makes the probe Θ(n²) (round-3 finding).
    */
  private val AnnTargetBucket = 2L
  private val AnnFloorBits = 4

  def annSignLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val bits = Similarity.autoBits(emb.count(), AnnTargetBucket, AnnFloorBits)
    Similarity
      .signBucketTopK(emb, "vec_id", "embedding", bits, 1, MaxBucket)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))
  }

  /** v19: binary-quantization ANN ([[Similarity.binaryRerankTopK]]) —
    * 62-bit packed sign signatures scanned by Hamming distance, a
    * 64-deep shortlist (~13x the k, the usual BQ oversampling band),
    * exact integer-cosine rescoring of the shortlist only. The
    * production pattern for "scan everything cheaply, rescore
    * a sliver exactly": the Hamming pass reads 16 bytes/vector (vs 256
    * for the d=64 float row), so the full-corpus scan costs ~1/16 of v1
    * and the exact math touches |queries|·shortlist rows total. Planes
    * are md5-derived pure functions of (seed, i); the oracle embeds the
    * identical literals and reproduces signatures, Hamming ranks, and
    * the rescored top-k bit-for-bit.
    */
  private val BqSeed = 7L
  private val BqBits = 62
  private val BqShortlist = 64
  private val BqNQueries = 16

  def binaryRerank(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .binaryRerankTopK(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        col("vec_id") < BqNQueries,
        Similarity.hyperplanes(BqSeed, BqBits, EmbedDim),
        BqBits,
        BqShortlist,
        TopK)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))

  /** v20: binary-quantization quality monitor — recall@1 of the v19
    * Hamming-shortlist path against the exact integer-cosine top-1 over
    * the same query set (the v6/v11/v13 continuous-monitoring pattern,
    * for the BQ plane): hits and totals gate as exact integers, recall
    * is their one division. This is the number a production BQ deployment
    * watches to decide the shortlist depth.
    */
  def bqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < BqNQueries, 1)
      .select(col("query_id"), col("vec_id").as("true_nn"))
    val approx = Similarity
      .binaryRerankTopK(
        emb, "vec_id", "embedding",
        col("vec_id") < BqNQueries,
        Similarity.hyperplanes(BqSeed, BqBits, EmbedDim),
        BqBits, BqShortlist, 1)
      .select(col("query_id"), col("vec_id").as("ann_nn"))
    exact
      .join(approx, Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("ann_nn") === col("true_nn"), 1L).otherwise(0L)).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_queries").cast("double"))
  }

  /** v23: HYBRID RETRIEVAL — reciprocal-rank fusion (Cormack et al.
    * 2009, the RRF every hybrid RAG stack runs) of a lexical and a
    * dense ranking of the SAME corpus: the t20 BM25 top-10 (doc ids)
    * and the exact integer-cosine top-10 for one query embedding
    * (vec ids — the corpora share the id space). Each list contributes
    * floor(1e6 / (60 + rank)) — the standard k=60 RRF discount in
    * integer fixed-point, so both engines fuse in exact arithmetic
    * (no float sums to order) — and items on one list only score that
    * one term (a FULL OUTER join, nulls → 0). Scale posture: all the
    * heavy lifting is inside the two constituent rankings (each already
    * bounded: t20's distributed TakeOrdered, v1's BottomKAgg); the
    * fusion itself joins two <= 10-row frames and mints ranks on <= 20
    * survivors — O(k), never O(corpus).
    */
  private val HybridRrfK = 60L
  private val HybridRrfScale = 1000000L
  private val HybridQueryVec = 0L
  private val HybridTopK = 10

  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val text = DocQueries
      .bm25Rank(spark, sfDir)
      .select(col("doc_id").as("id"), col("rnk").as("rnk_text"))
    val vec = Similarity
      .bruteForceTopK(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        col("vec_id") === HybridQueryVec,
        DocQueries.Bm25TopK)
      .select(col("vec_id").as("id"), col("rnk").as("rnk_vec"))
    val w = Window.orderBy(col("rrf_x1m").desc, col("id"))
    text
      .join(vec, Seq("id"), "full_outer")
      .withColumn(
        "rrf_x1m",
        coalesce(expr(s"${HybridRrfScale}L div (${HybridRrfK}L + rnk_text)"), lit(0L)) +
          coalesce(expr(s"${HybridRrfScale}L div (${HybridRrfK}L + rnk_vec)"), lit(0L)))
      .orderBy(col("rrf_x1m").desc, col("id"))
      .limit(HybridTopK)
      .repartition(1)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), col("id"), col("rrf_x1m"), col("rnk_text"), col("rnk_vec"))
      .transform(orderedOutput(_, col("rnk")))
  }

  /** v24: exact radius retrieval ([[Similarity.rangeSearch]]) — per
    * query, EVERY corpus vector at cosine >= the threshold, the
    * data-dependent-answer-size shape top-k cannot express ("all
    * sufficiently similar", possibly none). One broadcast of the bounded
    * query batch + one linear corpus scan, no exchange anywhere (the
    * output is result-sized — no per-query aggregate exists at all); the
    * oracle runs the identical integer-dot/one-double-division scorer,
    * so both the membership set AND the scores hash-match.
    */
  def rangeSearchQuery(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .rangeSearch(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        col("vec_id") < RangeNQueries,
        RangeThreshold)
      .transform(orderedOutput(_, col("query_id"), col("vec_id")))

  private val RangeThreshold = 0.3
  private val RangeNQueries = 16L

  /** A 0.3-cosine radius is a WIDE query — true results spread across
    * many cells (the same intrinsic unselectivity the LSH docstring
    * derives for low thresholds), so the range probe gets twice v4's
    * probe budget. The cost stays nProbe * cellSize per query at any
    * corpus size; the v26 monitor pins what the budget buys.
    */
  private val RangeNProbe = 8

  /** v25: IVF-probed radius retrieval ([[Similarity.ivfRangeSearchAuto]])
    * — v24's scale path: the v3 coarse quantizer narrows each query to
    * its capped cell and the threshold filter replaces the rank, so
    * per-query cost is cellSize, not corpus size. The oracle replays the
    * full IVF lifecycle (training sample, md5-rank seeds, two Lloyd
    * rounds, capped assignment) and filters in-cell, so every surviving
    * pair AND its score must match bit-for-bit; the recall the cell
    * restriction forfeits is pinned as a measured value by v26.
    */
  def ivfRangeSearch(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .ivfRangeSearchAuto(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        col("vec_id") < RangeNQueries,
        RangeThreshold,
        IvfFloorCells,
        IvfCapCells,
        LloydIters,
        MaxCell,
        IvfTrainPerCell,
        RangeNProbe)
      .transform(orderedOutput(_, col("query_id"), col("vec_id")))

  /** v26: recall monitor for v25 — the fraction of the EXACT radius
    * result set ([[Similarity.rangeSearch]]) the cell-probed path
    * retains, the v6/v11/v13/v20 continuous-monitoring convention
    * applied to range search. Exact hit counts cross the gate; recall is
    * their one double division.
    */
  def ivfRangeRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity
      .rangeSearch(emb, "vec_id", "embedding", col("vec_id") < RangeNQueries, RangeThreshold)
      .select(col("query_id"), col("vec_id"))
    val approx = Similarity
      .ivfRangeSearchAuto(
        emb,
        "vec_id",
        "embedding",
        col("vec_id") < RangeNQueries,
        RangeThreshold,
        IvfFloorCells,
        IvfCapCells,
        LloydIters,
        MaxCell,
        IvfTrainPerCell,
        RangeNProbe)
      .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
    exact
      .join(approx, Seq("query_id", "vec_id"), "left")
      .agg(
        count(lit(1)).as("n_expected"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_expected").cast("double"))
  }

  def embedNearDup(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .nearDupPairs(Tables.embeddings(spark, sfDir), "vec_id", "embedding", NearDupThreshold)
      .transform(orderedOutput(_, col("vec_a"), col("vec_b")))

  /** d6: same output schema and threshold semantics as d5 with
    * approximate recall, LSH-blocked (the 100 TB path). Bits derived
    * (n=500 at the gate => b=4, T=16 — the round-2 constants), tables fill
    * the remaining disjoint component slices, hot buckets capped.
    */
  private val BlockTargetBucket = 32L
  private val BlockFloorBits = 4
  private val BlockMaxTables = 16
  private val MaxBucket = 256L

  def embedNearDupLsh(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .nearDupPairsBlockedAuto(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        NearDupThreshold,
        BlockTargetBucket,
        BlockFloorBits,
        BlockMaxTables,
        EmbedDim,
        MaxBucket)
      .transform(orderedOutput(_, col("vec_a"), col("vec_b")))

  /** d7: the production near-dup operating point — threshold 0.9 with
    * b=16/T=4, where sign-LSH is genuinely selective (p^16 collisions
    * leave buckets near-singleton; the sf0.1 probe saw 124 candidates out
    * of ~2M pairs). This corpus has no pairs at 0.9 (max cosine ~0.6), so
    * the gate pins the 0-row contract + formula parity; the planted-pair
    * recall spec (DedupSimilaritySpec) exercises the non-vacuous case.
    */
  private val HiThreshold = 0.9
  private val HiBits = 16
  private val HiTables = 4

  def embedNearDupLshHi(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .nearDupPairsBlocked(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        HiThreshold,
        HiBits,
        HiTables,
        MaxBucket)
      .transform(orderedOutput(_, col("vec_a"), col("vec_b")))

  /** d8: d6's contract over RANDOM hyperplanes — the 10^12-corpus LSH
    * shape. Axis-aligned tables (d6/d7) obey bits*tables <= 64, so at very
    * large n the derived b eats the table budget (T -> 1, recall
    * collapses); random ±1 projections keep T = 16 at ANY derived b
    * (clamped to RpCapBits). Planes are md5-derived pure functions of
    * (seed, k, j); the oracle embeds the identical literals.
    */
  private val RpSeed = 42L
  private val RpCapBits = 16
  private val RpTables = 16

  def embedNearDupRp(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .nearDupPairsRpAuto(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        NearDupThreshold,
        RpSeed,
        BlockTargetBucket,
        BlockFloorBits,
        RpCapBits,
        RpTables,
        EmbedDim,
        MaxBucket)
      .transform(orderedOutput(_, col("vec_a"), col("vec_b")))

  /** v15: kNN-GRAPH construction — every vector's top-[[KnnGraphK]]
    * neighbors (the input UMAP/HDBSCAN-style clustering, graph-based
    * dedup, and label propagation over embeddings all start from), built
    * the way it scales: sign-LSH buckets seed candidate edges (d6's
    * derived-bits blocking, hot buckets capped), then ONE NN-descent
    * round (Dong et al. 2011: "a neighbor of a neighbor is likely a
    * neighbor") expands candidates through the init graph's
    * neighbor-of-neighbor joins before the final exact-cosine top-k.
    * Each final edge carries a `mutual` flag (both endpoints rank each
    * other) — the mutual-kNN subgraph is the standard clustering
    * skeleton. All candidate generation is bounded: buckets by the
    * [[MaxBucket]] cap, the descent round by |edges|·k = n·k², never
    * n²; the exact verify touches candidates only. The oracle replays
    * the whole pipeline (same derived bits, same cap, row_number
    * tie-breaks on (cosine DESC, dst)) so recall is pinned by parity,
    * not assumed.
    */
  private val KnnGraphK = 5
  private val KgTables = 4

  /** The v15 pipeline through its ranked edge set: (prepared+persisted
    * base, cand0 = the directed co-bucket candidate pairs, g1 = per-src
    * top-[[KnnGraphK]] edges with cosine and rnk). Shared by v15 (which
    * adds the mutuality flag) and v17 (which walks the graph as a search
    * structure and seeds from cand0's co-bucket pairs).
    */
  private def knnGraphParts(
      spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    knnGraphPartsOf(Tables.embeddings(spark, sfDir))

  /** [[knnGraphParts]] over an explicit embedding frame — the build side
    * of the incremental-maintenance path runs it on the BASE SLICE only.
    */
  private def knnGraphPartsOf(emb: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val bits = Similarity.autoBits(emb.count(), BlockTargetBucket, BlockFloorBits)
    val tables = math.max(1, math.min(KgTables, EmbedDim / bits))
    val base = Similarity
      .prepared(emb, "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cool and cand0 are each referenced several times downstream (cand0
    // by both g0 and the descent union here; cool by every caller's probe
    // side — beamSearch's bucketPairs alone reads it twice per unrolled
    // round). Without a persist each reference re-expands the full
    // explode + hot-bucket window subtree INTO THE CALLER'S PLAN — the
    // measured v22 plan held 1,432 Exchange nodes from exactly this
    // duplication (guide §7.2 "duplicated subtrees", §3.3 "materialise
    // intermediates"). Persisting pins each to one materialization and
    // one InMemoryTableScan per reference.
    val cool = Similarity
      .dropHotBuckets(
        base.select(col("vec_id"), explode(Similarity.signBuckets(col("qv"), bits, tables)).as("bucket")),
        MaxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // directed candidates via the capped grouped-collect (the
    // verifyCandidates shape): per-bucket work bounded by MaxBucket^2
    val cand0 = cool
      .groupBy(col("bucket"))
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("src"), col("ids"))
      .select(col("src"), explode(col("ids")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def verified(cand: DataFrame): DataFrame = cand
      .join(base.select(col("vec_id").as("src"), col("qv").as("qa"), col("nrm").as("na")), "src")
      .join(base.select(col("vec_id").as("dst"), col("qv").as("qb"), col("nrm").as("nb")), "dst")
      .select(
        col("src"), col("dst"),
        Similarity.cosine(Similarity.dot(col("qa"), col("qb")), col("na"), col("nb")).as("cosine"))
    def topK(v: DataFrame): DataFrame = v
      .withColumn(
        "rnk",
        row_number()
          .over(Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst")))
          .cast("long"))
      .filter(col("rnk") <= KnnGraphK)
    val g0 = topK(verified(cand0)).select("src", "dst")
    // the NN-descent expansion walks the UNDIRECTED init graph (forward
    // and reverse neighbors both count, per the paper); persisted because
    // the neighbor-of-neighbor self-join below reads it from both sides
    // (and g0's verify+topK subtree twice through the union otherwise)
    val und = g0
      .unionAll(g0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand1 = und.as("e1")
      .join(und.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
    // g1 is read twice by every consumer (v15's mutuality self-join; the
    // und closure's forward+reverse union in v17/v18/v22) — persist so
    // the verify+topK subtree runs once, not per reference.
    val g1 = topK(verified(cand0.unionAll(cand1).distinct()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (base, cool, cand0, g1)
  }

  def knnGraph(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, _, _, g1) = knnGraphParts(spark, sfDir)
    g1.join(
        g1.select(col("dst").as("src"), col("src").as("dst"), lit(1L).as("mut")).distinct(),
        Seq("src", "dst"),
        "left")
      .select(
        col("src").as("vec_id"), col("rnk"), col("dst").as("nbr_id"), col("cosine"),
        coalesce(col("mut"), lit(0L)).as("mutual"))
      .transform(orderedOutput(_, col("vec_id"), col("rnk")))
  }

  /** v17: GRAPH-ANN beam search — the v15 kNN graph used as a SEARCH
    * structure (the single-layer NSW shape behind HNSW, Malkov & Yashunin
    * 2016): each query seeds from its own LSH co-bucket members (v15's
    * cand0 pairs — the query's neighborhood guess) plus [[GannSeeds]]
    * fixed md5-rank global entry points (so an empty/capped bucket still
    * searches), then [[GannRounds]] greedy rounds each expand the current
    * per-query top-[[GannBeam]] beam through the undirected graph's
    * neighbor lists, score the new candidates exactly, and fold them into
    * the scored set. Result: per-query top-[[GannTopK]]. The graph rounds
    * are what recover the neighbors LSH blocking missed — the hybrid
    * beats bucket-only search wherever the true neighbor shares no bucket
    * with the query (GraphAnnSpec pins that margin).
    *
    * Why this scales where IVF probing plateaus: per round the work is
    * |queries|·beam·k candidate rows — INDEPENDENT of corpus size — and
    * every step is a keyed join against the bounded edge frame (frontier
    * and candidate sides broadcast; the corpus-sized `base` side is only
    * ever probe-joined on vec_id, never re-partitioned). Determinism:
    * entry points are a pure md5 function of the id (the kmseed
    * discipline) plus the capped co-bucket pairs, beams tie-break on
    * (cosine DESC, vec_id), and re-scored duplicates collapse by DISTINCT
    * on bit-identical integer cosines — so the oracle replays the whole
    * search in SQL, rounds unrolled as CTEs.
    */
  private val GannQueries = 32
  private val GannSeeds = 4
  private val GannBeam = 16
  private val GannRounds = 2
  private val GannTopK = 5

  def graphAnn(spark: SparkSession, sfDir: String): DataFrame =
    graphAnnRounds(spark, sfDir, GannRounds)

  /** v18: the PERSISTED graph index — v17's build-once lifecycle (the
    * v5/v14 convention): the kNN graph's three probe-time frames land as
    * catalog tables (prepared vectors, capped bucket map, undirected
    * edges — the HNSW-style artifact a serving fleet loads), and the
    * probe is [[beamSearch]] against the reloaded tables. Build cost is
    * paid once per corpus version, not per query batch — at 100 TB the
    * graph build is the expensive half (LSH blocking + NN-descent over
    * every vector), while a probe touches |queries|·beam·degree rows.
    * Exact integers round-trip parquet unchanged, so the oracle is v17's
    * SQL verbatim, and GraphAnnSpec pins probe ≡ in-memory bit-equality.
    */
  def graphIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    buildGraphIndex(spark, sfDir, "gann_idx")
    beamSearch(
      spark.table("gann_idx_base"),
      spark.table("gann_idx_buckets"),
      spark.table("gann_idx_edges"),
      GannRounds)
  }

  private[graft] def buildGraphIndex(spark: SparkSession, sfDir: String, table: String): Unit =
    buildGraphIndexOf(Tables.embeddings(spark, sfDir), table)

  private[graft] def buildGraphIndexOf(emb: DataFrame, table: String): Unit = {
    val (base, cool, _, g1) = knnGraphPartsOf(emb)
    val fwd = g1.select(col("src"), col("dst"))
    val und = fwd
      .unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    graft.sources.Bucketed.writePlain(base.select("vec_id", "qv", "nrm"), s"${table}_base")
    graft.sources.Bucketed.writePlain(cool, s"${table}_buckets")
    graft.sources.Bucketed.writePlain(und, s"${table}_edges")
  }

  /** One NN-descent round for a DELTA of new vectors against a standing
    * graph: candidates are the delta's co-bucket members (under the
    * STANDING quantizer — bits/tables fixed at build, the v14
    * no-retrain convention) plus those members' one-hop neighborhoods
    * through the standing edges, verified by exact cosine, top-
    * [[KnnGraphK]] kept per delta vector. Returns the delta's directed
    * edges; callers union both directions into the undirected edge set.
    * Work is delta-sized: |delta|·cap·tables candidates expanded through
    * bounded-degree adjacency — never a rebuild's corpus-wide blocking.
    */
  private def deltaGraphEdges(
      dprep: DataFrame,
      dbuckets: DataFrame,
      allBuckets: DataFrame,
      und1: DataFrame,
      fullBase: DataFrame): DataFrame = {
    // referenced three times below (dcand1's probe side and both arms of
    // the union) — persist so the bucket join runs once, not per reference
    val dcand0 = dbuckets
      .as("d")
      .join(allBuckets.as("o"),
        col("d.bucket") === col("o.bucket") && col("d.vec_id") =!= col("o.vec_id"))
      .select(col("d.vec_id").as("src"), col("o.vec_id").as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dcand1 = dcand0
      .as("c")
      .join(und1.as("u"), col("u.src") === col("c.dst"))
      .select(col("c.src").as("src"), col("u.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val dall = dcand0.unionAll(dcand1).distinct()
    val dv = dall
      .join(fullBase.select(col("vec_id").as("src"), col("qv").as("qa"), col("nrm").as("na")), "src")
      .join(fullBase.select(col("vec_id").as("dst"), col("qv").as("qb"), col("nrm").as("nb")), "dst")
      .select(
        col("src"),
        col("dst"),
        Similarity.cosine(Similarity.dot(col("qa"), col("qb")), col("na"), col("nb")).as("cosine"))
    // per-delta-vector top-K: the window partition is delta-sized and
    // candidate-bounded (cap·tables + its one-hop fan-out), never corpus
    val wSrc = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    dv.withColumn("rnk", row_number().over(wSrc))
      .filter(col("rnk") <= KnnGraphK)
      .select("src", "dst")
  }

  /** v22: graph-ANN INCREMENTAL MAINTENANCE — the v18 build-once index
    * lifted to v14/v21 parity: build the graph on the base slice
    * (vec_id % 5 != 4), APPEND the delta slice with [[deltaGraphEdges]]'s
    * one NN-descent round (no rebuild, no re-derived quantizer),
    * tombstone-DELETE a slice (vec_id % 11 == 7) by filtering vectors,
    * buckets, and BOTH edge endpoints, then beam-probe the maintained
    * structure. Every stage is a pure function of the ids (md5 seeds,
    * integer cosines, total-order tiebreaks), so the DuckDB oracle
    * replays build→append→delete→probe bit-for-bit. At 100 TB this is
    * the lifecycle that makes the expensive half (the graph build)
    * a one-time cost: appends touch |delta|·cap·degree rows, deletes are
    * an id filter, and only the recall monitor decides when to rebuild.
    */
  private[graft] def maintainedGraphFrames(
      spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, sfDir)
    val basePart = emb.filter(pmod(col("vec_id"), lit(5)) =!= 4)
    val deltaPart = emb.filter(pmod(col("vec_id"), lit(5)) === 4)
    // the standing quantizer: derived at BUILD time from the base slice
    val bits = Similarity.autoBits(basePart.count(), BlockTargetBucket, BlockFloorBits)
    val tables = math.max(1, math.min(KgTables, EmbedDim / bits))
    val (_, cool, _, g1) = knnGraphPartsOf(basePart)
    val fwd = g1.select(col("src"), col("dst"))
    val und1 = fwd
      .unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fullBase = Similarity
      .prepared(emb, "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dprep = Similarity.prepared(deltaPart, "vec_id", "embedding")
    val dbuckets = dprep.select(
      col("vec_id"),
      explode(Similarity.signBuckets(col("qv"), bits, tables)).as("bucket"))
    // the maintained bucket map is the probe's seed source (read twice
    // per unrolled beam round) AND the delta's candidate source — persist
    // it once instead of re-deriving cool ∪ dbuckets at every reference
    val allBuckets = cool
      .unionAll(dbuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dg feeds the maintained edge set from BOTH directions; without a
    // persist the whole delta NN-descent (bucket join + one-hop expansion
    // + exact verify + top-k window) runs twice (the graphIndexAppend
    // production twin already persists it)
    val dg = deltaGraphEdges(dprep, dbuckets, allBuckets, und1, fullBase)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val undM = und1
      .unionAll(dg)
      .unionAll(dg.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    def live(df: DataFrame) = df.filter(pmod(col("vec_id"), lit(11)) =!= 7)
    val liveEdges = undM.filter(
      pmod(col("src"), lit(11)) =!= 7 && pmod(col("dst"), lit(11)) =!= 7)
    (live(fullBase), live(allBuckets), liveEdges)
  }

  def gannIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val (base, buckets, edges) = maintainedGraphFrames(spark, sfDir)
    beamSearch(base, buckets, edges, GannRounds)
  }

  /** Persisted-index APPEND (the production form of [[maintainedGraphFrames]]'s
    * delta half, against the catalog tables [[buildGraphIndexOf]] wrote):
    * new vectors bucket under the standing quantizer — bits/tables parsed
    * from the STORED bucket keys, so no side metadata and no accidental
    * re-derivation — gain edges from one NN-descent round, and the three
    * index tables append in place.
    */
  def graphIndexAppend(
      spark: SparkSession,
      table: String,
      newVecs: DataFrame,
      idCol: String,
      embCol: String): Unit = {
    val baseT = spark.table(s"${table}_base")
    val coolT = spark.table(s"${table}_buckets")
    val undT = spark.table(s"${table}_edges")
    val sample = coolT.select(col("bucket")).limit(1).collect()
    require(sample.nonEmpty, s"$table has an empty bucket map: rebuild the index")
    val key = sample(0).getString(0)
    val bits = key.length - key.indexOf(':') - 1
    val tables = coolT
      .select(org.apache.spark.sql.functions.max(
        expr("CAST(split(bucket, ':')[0] AS INT)")).as("t"))
      .collect()(0).getInt(0) + 1
    val dprep = Similarity.prepared(newVecs, idCol, embCol)
    val dbuckets = dprep.select(
      col("vec_id"),
      explode(Similarity.signBuckets(col("qv"), bits, tables)).as("bucket"))
    val allBuckets = coolT.unionAll(dbuckets)
    val fullBase = baseT.unionByName(dprep)
    val dg = deltaGraphEdges(dprep, dbuckets, allBuckets, undT, fullBase)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newEdges = dg
      .unionAll(dg.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .join(undT, Seq("src", "dst"), "left_anti")
    def appendTo(df: DataFrame, name: String): Unit =
      df.write.mode("append").format("parquet").saveAsTable(name)
    appendTo(newEdges, s"${table}_edges")
    appendTo(dbuckets, s"${table}_buckets")
    appendTo(dprep.select("vec_id", "qv", "nrm"), s"${table}_base")
  }

  /** Persisted-index tombstoned DELETE — [[VectorIndex.delete]]'s side
    * table, shared convention (`<table>_tombstones`).
    */
  def graphIndexDelete(spark: SparkSession, table: String, ids: DataFrame, idCol: String): Unit =
    graft.operators.VectorIndex.delete(spark, table, ids, idCol)

  /** Probe the persisted graph index over its LIVE rows: vectors,
    * buckets, and both edge endpoints anti-join the tombstone set
    * (broadcast — the v21 discipline), then the standard beam search.
    */
  def graphIndexProbeLive(spark: SparkSession, table: String): DataFrame = {
    val tomb = graft.operators.VectorIndex.tombstones(spark, table)
    def liveIds(df: DataFrame) =
      df.join(broadcast(tomb), Seq("vec_id"), "left_anti")
    val liveEdges = spark.table(s"${table}_edges")
      .join(broadcast(tomb.select(col("vec_id").as("src"))), Seq("src"), "left_anti")
      .join(broadcast(tomb.select(col("vec_id").as("dst"))), Seq("dst"), "left_anti")
      .select("src", "dst")
    beamSearch(
      liveIds(spark.table(s"${table}_base")),
      liveIds(spark.table(s"${table}_buckets")),
      liveEdges,
      GannRounds)
  }

  /** The v17 search with an explicit round count — rounds=0 is the
    * seed-only (LSH-bucket + global entry points) baseline GraphAnnSpec
    * measures the graph navigation's recall margin against.
    */
  private[graft] def graphAnnRounds(spark: SparkSession, sfDir: String, nRounds: Int): DataFrame =
    graphAnnRoundsOf(Tables.embeddings(spark, sfDir), nRounds)

  /** [[graphAnnRounds]] over an explicit corpus — the full-rebuild
    * baseline the maintenance recall bound compares against.
    */
  private[graft] def graphAnnRoundsOf(emb: DataFrame, nRounds: Int): DataFrame = {
    val (base, cool, _, g1) = knnGraphPartsOf(emb)
    val fwd = g1.select(col("src"), col("dst"))
    val und = fwd
      .unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    beamSearch(base, cool, und, nRounds)
  }

  /** The v17 search over EXPLICIT index frames — (prepared base, capped
    * vec→bucket map, undirected edge set) — so the same code path serves
    * the in-memory form (v17) and the persisted-index probe (v18, the
    * v5/v14 build-once lifecycle).
    */
  private def beamSearch(
      baseIn: DataFrame,
      cool: DataFrame,
      undIn: DataFrame,
      nRounds: Int): DataFrame = {
    val base = baseIn
    // Persist pins the edge materialization (one distinct shuffle, shared
    // by every probe and — via CacheManager plan dedup — across repeated
    // invocations in a session); the checkpoint on top CUTS THE LINEAGE,
    // so the per-round jobs below carry a one-node scan instead of
    // re-analyzing the whole index-build tree on every action (v22's
    // maintained-edge lineage spans the kNN build + delta NN-descent —
    // measured ~6 s/rep of pure driver re-analysis without the cut).
    val und = graft.Rounds.checkpoint(
      undIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // O(1) entry points: smallest md5-rank ids (TakeOrdered, no global
    // window), the kmseed draw with its own salt
    val seeds = base
      .select(
        col("vec_id"),
        substring(md5(concat(lit("gannseed|"), col("vec_id").cast("string"))), 1, 8).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(GannSeeds)
      .select(col("vec_id"))
    def score(cand: DataFrame): DataFrame = base
      .select(col("vec_id"), col("qv").as("c_qv"), col("nrm").as("c_nrm"))
      .join(broadcast(cand), "vec_id")
      .join(
        broadcast(base
          .filter(col("vec_id") < GannQueries)
          .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))),
        "query_id")
      .select(
        col("query_id"),
        col("vec_id"),
        Similarity
          .cosine(Similarity.dot(col("q_qv"), col("c_qv")), col("q_nrm"), col("c_nrm"))
          .as("cosine"))
    val globalPairs = base
      .filter(col("vec_id") < GannQueries)
      .select(col("vec_id").as("query_id"))
      .crossJoin(broadcast(seeds))
    // each query's own LSH co-bucket members (== cand0 restricted to
    // query sources: cand0 is exactly distinct(cool x cool)); per-bucket
    // cost is cap-bounded and the query side is |queries| rows
    val bucketPairs = cool
      .filter(col("vec_id") < GannQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
      .join(cool, "bucket")
      .select(col("query_id"), col("vec_id"))
    // Each round reads the running scored set TWICE (frontier cut + the
    // union that folds new candidates in), so a lazy fold DOUBLES the
    // plan per round — after 2 rounds sc0's whole subtree (itself reading
    // `cool` twice) appeared 4x in the physical plan: the measured v22
    // plan held 1,432 Exchange nodes and v17's 9k formatted lines from
    // exactly this duplication (guide §7.2 "duplicated subtrees", §3.3
    // "materialise intermediates"). The scored set is BOUNDED — |queries|
    // x (seeds + co-bucket + rounds*beam*degree) rows, corpus-independent
    // — so the rounds run on [[graft.Rounds]], which keeps the plan LINEAR
    // in rounds and frees each superseded round: each round is one window
    // cut + one bounded candidate join + one scored union over the
    // previous round's materialized rows.
    val beamW = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    val sc0 = graft.Rounds.checkpoint(
      score(
        globalPairs
          .unionAll(bucketPairs)
          .filter(col("vec_id") =!= col("query_id"))
          .distinct()))
    val scored = graft.Rounds.run(sc0, nRounds) { (sc, _) =>
      val frontier = sc
        .withColumn("frnk", row_number().over(beamW))
        .filter(col("frnk") <= GannBeam)
        .select(col("query_id"), col("vec_id"))
      val cands = und
        .join(broadcast(frontier), und("src") === frontier("vec_id"))
        .select(col("query_id"), col("dst").as("vec_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .distinct()
      graft.Rounds.checkpoint(sc.unionAll(score(cands)).distinct())
    }.state
    scored
      .withColumn("rnk", row_number().over(beamW).cast("long"))
      .filter(col("rnk") <= GannTopK)
      .select(col("query_id"), col("rnk"), col("vec_id"), col("cosine"))
      .transform(orderedOutput(_, col("query_id"), col("rnk")))
  }

  /** v3 IVF sizing: cells = clamp(sqrt(n), 16, 65536) (n=500 at the gate
    * => 22 cells), k-means trained on a ~64-vectors-per-cell hash sample
    * and seeded by md5-rank (both density-free — a sparse-id corpus still
    * trains and seeds fully), assigned cells capped at MaxCell before the
    * probe join. See [[Similarity.autoCells]] for why sqrt — the round-3
    * derivation (cells = n/32) made centroid assignment O(n²/32).
    */
  private val IvfFloorCells = 16
  private val IvfCapCells = 65536
  private val IvfTrainPerCell = 64L
  private val MaxCell = 4096L
  private val LloydIters = 2

  def annIvf(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .ivfTopKAuto(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        IvfFloorCells,
        IvfCapCells,
        1,
        LloydIters,
        MaxCell,
        IvfTrainPerCell)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))

  /** v16: filtered ANN — v3's IVF with a metadata constraint (same
    * label) applied INSIDE the probe join, the vector-DB "filtered
    * search" shape: one index serves every filter, the constraint is an
    * extra equi-key next to the cell key (never a post-top-k re-query,
    * which under-fills k; never a per-filter index rebuild). The oracle
    * replays the whole IVF lifecycle with the same label join.
    */
  private val FilteredK = 3

  def filteredAnn(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .ivfTopKFilteredAuto(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        "label",
        IvfFloorCells,
        IvfCapCells,
        FilteredK,
        LloydIters,
        MaxCell,
        IvfTrainPerCell)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))

  /** v4: v3 with multi-probe — the query side fans out to its NProbe
    * nearest cells (recall at cell boundaries, the classic IVF nprobe
    * knob); probe cost stays bounded at nProbe * cellSize per query.
    */
  private val NProbe = 4

  def annIvfMultiProbe(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .ivfTopKAuto(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        IvfFloorCells,
        IvfCapCells,
        1,
        LloydIters,
        MaxCell,
        IvfTrainPerCell,
        NProbe)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))

  /** v5: the persisted-index ANN lifecycle ([[VectorIndex]]) — build the
    * IVF index ONCE (centroid table + assignment bucketed by `cell` on
    * disk, so the corpus side of every later probe join never shuffles
    * again), then probe it. Build parameters are v3's, and the probe
    * contract equals v3's in-cell top-1 (self-probe, so `excludeSelf`),
    * which is exactly why v3's oracle SQL gates this query unchanged: the
    * gate proves the build→persist→reload→probe lifecycle — the path a
    * production deployment actually runs — is bit-identical to the
    * from-scratch derivation, not just spec-asserted (VectorIndexSpec
    * keeps the exchange-free plan posture).
    */
  private val IndexTable = "graft_ivf_index"

  /** Build half of the v5 lifecycle, exposed separately so the bench can
    * time build (once per deployment) and probe (every query batch) as
    * the two numbers they are in production — r6's single gate conflated
    * them, hiding the serving latency inside ~2 s of per-rep rebuild.
    */
  def buildIvfIndex(spark: SparkSession, sfDir: String): Unit =
    VectorIndex.build(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding", IndexTable,
      IvfFloorCells, IvfCapCells, LloydIters, MaxCell, IvfTrainPerCell)

  /** Probe half — requires [[buildIvfIndex]] to have run in this session
    * (the standing-index serving path).
    */
  def ivfIndexProbeOnly(spark: SparkSession, sfDir: String): DataFrame =
    VectorIndex
      .topK(
        spark, IndexTable, Tables.embeddings(spark, sfDir),
        "vec_id", "embedding", 1, 1, excludeSelf = true)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))

  def ivfIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    buildIvfIndex(spark, sfDir)
    ivfIndexProbeOnly(spark, sfDir)
  }

  /** v14: incremental IVF maintenance ([[VectorIndex.append]]) — the
    * index lifecycle BETWEEN rebuilds: train + build on the initial
    * corpus (vec_id % 10 != 0 here), then a later ingest batch (the
    * % 10 == 0 rows) is assigned to the EXISTING centroids and appended
    * into the bucketed assignment table — no retrain, no re-shuffle of
    * the stored corpus, the FAISS train-once/add-many shape a 100 TB
    * serving index actually runs (a rebuild per ingest batch would
    * re-read the whole index). The gate probes the full corpus against
    * the maintained index: every appended vector is findable, and base
    * vectors' neighborhoods now include the appended rows. Cell count /
    * training sample / seeds derive from the BUILD corpus only (the
    * append must not perturb the quantizer — that is the point);
    * appended rows are uncapped until the next rebuild (documented in
    * [[VectorIndex.append]]). The oracle re-derives the same split
    * lifecycle in SQL, so the gate pins build→append→probe end to end,
    * parquet round-trip included. Timed reps include the build+append
    * writes (the honest price of a lifecycle gate, the x3/x4 convention);
    * v5's split build/probe headlines already carry the amortized serving
    * numbers, and the append path's standalone cost is one assignment
    * scan of the batch.
    */
  private val IncrTable = "graft_ivf_incr"

  def ivfIncrementalProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    VectorIndex.build(
      base, "vec_id", "embedding", IncrTable,
      IvfFloorCells, IvfCapCells, LloydIters, MaxCell, IvfTrainPerCell)
    VectorIndex.append(spark, IncrTable, delta, "vec_id", "embedding")
    VectorIndex
      .topK(spark, IncrTable, emb, "vec_id", "embedding", 1, 1, excludeSelf = true)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))
  }

  /** v21: tombstoned DELETE on the persisted index
    * ([[VectorIndex.delete]]/[[VectorIndex.topKLive]]) — the missing
    * third of the index lifecycle beside v5's build→probe and v14's
    * append: build on the full corpus, tombstone a deterministic slice
    * (vec_id % 7 == 3 — O(ids) metadata write, not one index file
    * rewritten), then probe the LIVE vectors. Deleted vectors must
    * vanish BOTH ways: no deleted query ids, and no deleted vector
    * surfaces as anyone's neighbor — the second half is the part a
    * filter-after-topk serving bug gets wrong (a dead top-1 must yield
    * its rank to the best live neighbor, which the oracle's live×live
    * join pins). The anti-join rides a broadcast above the bucketed
    * scan, so the probe stays exchange-free (VectorIndexSpec). Timed
    * reps include the build+delete writes (lifecycle-gate convention).
    */
  private val TombTable = "graft_ivf_tomb"

  def ivfTombstoneProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    VectorIndex.build(
      emb, "vec_id", "embedding", TombTable,
      IvfFloorCells, IvfCapCells, LloydIters, MaxCell, IvfTrainPerCell)
    VectorIndex.delete(
      spark, TombTable, emb.filter(pmod(col("vec_id"), lit(7)) === 3), "vec_id")
    VectorIndex
      .topKLive(
        spark, TombTable, emb.filter(pmod(col("vec_id"), lit(7)) =!= 3),
        "vec_id", "embedding", 1, 1, excludeSelf = true)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))
  }

  /** v6: ANN quality evaluation — recall@1 of the IVF path (v3) against
    * the brute-force ground truth (v1) over the fixed query set, AS A
    * GATED QUERY: the measurement operator a production ANN deployment
    * runs continuously (index drift monitoring), not a one-off spec
    * assertion. Both paths already share the persisted prepared frame;
    * hits and totals gate as exact integers, the recall as their one
    * double division. nProbe=1 recall is deliberately < 1.0 at the gate
    * corpus — the gate pins the true measured value, not a vacuous 1.0.
    */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < NQueries, 1)
      .select(col("query_id"), col("vec_id").as("true_nn"))
    val approx = Similarity
      .ivfTopKAuto(
        emb, "vec_id", "embedding",
        IvfFloorCells, IvfCapCells, 1, LloydIters, MaxCell, IvfTrainPerCell)
      .filter(col("query_id") < NQueries)
      .select(col("query_id"), col("vec_id").as("ann_nn"))
    exact
      .join(approx, Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("ann_nn") === col("true_nn"), 1L).otherwise(0L)).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_queries").cast("double"))
  }

  /** d9: SemDeDup-style cluster-scoped dedup ([[Similarity.semDedup]]) at
    * the d5 threshold — v3's quantizer, in-cell pairs only, keep-lowest-id.
    */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame =
    Similarity
      .semDedup(
        Tables.embeddings(spark, sfDir),
        "vec_id",
        "embedding",
        NearDupThreshold,
        IvfFloorCells,
        IvfCapCells,
        LloydIters,
        MaxCell,
        IvfTrainPerCell)
      .transform(orderedOutput(_, col("vec_id")))

  /** e2: the EMBEDDING-side composed pipeline — d9's SemDedup stage
    * feeding retrieval, as one oracle-gated query: cell-blocked
    * semantic dedup marks every vector with a smaller-id near-neighbor
    * (cosine ≥ threshold in its IVF cell), the SURVIVORS become the
    * serving corpus, and the exact cosine top-k runs over survivors
    * only. The composition is observable — a duplicate removed from the
    * corpus vanishes from every neighbor list, so any drift in the
    * dedup stage diverges the retrieval hash (the e1 cross-plane
    * contract, vector side). All heavy stages are the already-gated
    * bounded forms (cell-blocked pairs, BottomKAgg top-k).
    */
  private val E2Queries = 4L
  private val E2TopK = 5

  def embeddingPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val survivors = Similarity
      .semDedup(
        emb, "vec_id", "embedding",
        NearDupThreshold, IvfFloorCells, IvfCapCells, LloydIters, MaxCell, IvfTrainPerCell)
      .filter(col("is_dup") === 0L)
      .select(col("vec_id"))
    val kept = emb.join(survivors, Seq("vec_id"), "left_semi")
    Similarity
      .bruteForceTopK(kept, "vec_id", "embedding", col("vec_id") < E2Queries, E2TopK)
      .transform(orderedOutput(_, col("query_id"), col("rnk")))
  }

  /** v7: kNN classification — majority label vote over the exact
    * cosine top-[[KnnK]] neighborhood of each probe (ties broken by the
    * smaller label, a total order both engines share). The probe set is
    * the same O(1) broadcast as v1, so the scoring join stays
    * one-pass-over-corpus at any scale; votes collapse to |probes|·|labels|
    * rows before the rank pick. Swapping the exact top-k for
    * [[Similarity.ivfTopKAuto]] gives the ANN-backed variant with the
    * same vote logic.
    */
  private val KnnK = 10

  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val topk = Similarity
      .bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < NQueries, KnnK)
      .select(col("query_id"), col("vec_id"))
    val votes = topk
      .join(emb.select(col("vec_id"), col("label").cast("long").as("pred_label")), Seq("vec_id"))
      .groupBy(col("query_id"), col("pred_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("votes").desc, col("pred_label"))
    votes
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .join(
        emb.select(col("vec_id").as("query_id"), col("label").cast("long").as("true_label")),
        Seq("query_id"))
      .select(col("query_id"), col("pred_label"), col("votes"), col("true_label"))
      .transform(orderedOutput(_, col("query_id")))
  }

  /** v8: int8 scalar quantization — the memory-compression serving path
    * (8x smaller vectors than the integer micros, 32x smaller than
    * doubles): one global symmetric scale (max |component|, an O(1)
    * broadcast), sign-magnitude integer quantization
    * sign(c)·((|c|·127) div s) — magnitude-only floor division, because
    * Spark `div` truncates toward zero while DuckDB `//` floors, and
    * they only agree on non-negatives — then brute-force top-k by
    * quantized dot. Each quantized hit carries an `in_exact` flag
    * against the exact-cosine top-k, so the gate pins the recall loss
    * (not assumes it) the way v6 does for IVF.
    */
  def sq8TopK(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Similarity.prepared(Tables.embeddings(spark, sfDir), "vec_id", "embedding")
    val scale = broadcast(
      base.agg(max(expr("array_max(transform(qv, x -> abs(x)))")).as("s")))
    val q = base
      .crossJoin(scale)
      .select(
        col("vec_id"),
        col("qv"),
        col("nrm"),
        expr(
          "transform(qv, c -> CASE WHEN c >= 0 THEN (abs(c) * 127L) div s" +
            " ELSE -((abs(c) * 127L) div s) END)").as("q8"))
    val probes = broadcast(
      q.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("q8").as("p8"), col("qv").as("p_qv"), col("nrm").as("p_nrm")))
    // both top-k cuts over the corpus-sized scored scans run as the
    // bounded-heap bottom-k aggregate (map-side partials, O(|q|*k)
    // shuffle, no per-query sort) — the bruteForceTopK plan shape; the
    // int8 dot (<= 127*127*64 ~ 1e6) is exact in the aggregate's double
    // key, so the recovered long qdot is bit-identical to the window form
    val quantTop = q
      .join(probes, col("vec_id") =!= col("query_id"))
      .withColumn("qdot", Similarity.dot(col("p8"), col("q8")))
      .groupBy(col("query_id"))
      .agg(graft.functions.BottomKAgg
        .bottomK(negate(col("qdot").cast("double")), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(
        col("query_id"),
        col("e.rnk").as("rnk"),
        col("e.id").as("vec_id"),
        negate(col("e.key")).cast("long").as("qdot"))
    val exactTop = base
      .join(
        broadcast(base
          .filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"), col("qv").as("e_qv"), col("nrm").as("e_nrm"))),
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine", Similarity.cosine(Similarity.dot(col("e_qv"), col("qv")), col("e_nrm"), col("nrm")))
      .groupBy(col("query_id"))
      .agg(graft.functions.BottomKAgg
        .bottomK(negate(col("cosine")), col("vec_id"), TopK).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.id").as("vec_id"), lit(1L).as("in_exact"))
    quantTop
      .join(exactTop, Seq("query_id", "vec_id"), "left")
      .withColumn("in_exact", coalesce(col("in_exact"), lit(0L)))
      .transform(orderedOutput(_, col("query_id"), col("rnk")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v9_mmr_diverse" -> (mmrDiverse(_, _)),
    "v10_pq_topk" -> (pqTopKQuery(_, _)),
    "v11_pq_recall" -> (pqRecall(_, _)),
    "v12_ivfpq_topk" -> (ivfPqTopKQuery(_, _)),
    "v13_ivfpq_recall" -> (ivfPqRecall(_, _)),
    "v1_cosine_topk" -> (cosineTopK(_, _)),
    "v24_range_search" -> (rangeSearchQuery(_, _)),
    "v25_ivf_range" -> (ivfRangeSearch(_, _)),
    "v26_range_recall" -> (ivfRangeRecall(_, _)),
    "v23_hybrid_rrf" -> (hybridRrf(_, _)),
    "v7_knn_classify" -> (knnClassify(_, _)),
    "v8_sq8_topk" -> (sq8TopK(_, _)),
    "v2_ann_signlsh" -> (annSignLsh(_, _)),
    "v19_binary_rerank" -> (binaryRerank(_, _)),
    "v20_bq_recall" -> (bqRecall(_, _)),
    "v3_ann_ivf" -> (annIvf(_, _)),
    "d5_embed_neardup" -> (embedNearDup(_, _)),
    "d6_embed_neardup_lsh" -> (embedNearDupLsh(_, _)),
    "d7_embed_neardup_lsh_hi" -> (embedNearDupLshHi(_, _)),
    "d8_embed_neardup_rp" -> (embedNearDupRp(_, _)),
    "d9_semdedup" -> (semDedup(_, _)),
    "e2_embedding_pipeline" -> (embeddingPipeline(_, _)),
    "v4_ann_ivf_multiprobe" -> (annIvfMultiProbe(_, _)),
    "v5_ivf_index_probe" -> (ivfIndexProbe(_, _)),
    "v14_ivf_incremental" -> (ivfIncrementalProbe(_, _)),
    "v21_ann_tombstones" -> (ivfTombstoneProbe(_, _)),
    "v15_knn_graph" -> (knnGraph(_, _)),
    "v16_filtered_ann" -> (filteredAnn(_, _)),
    "v17_graph_ann" -> (graphAnn(_, _)),
    "v18_graph_index_probe" -> (graphIndexProbe(_, _)),
    "v22_gann_incremental" -> (gannIncremental(_, _)),
    "v6_ann_recall" -> (annRecall(_, _)))

  /** The v10 PQ lifecycle CTE chain (through `scored`), shared by the
    * v10 gate and the v11 recall gate.
    */
  /** The PQ lifecycle through corpus codes and per-query lookup tables —
    * everything except the final candidate scan, shared by v10/v11 (scan
    * = all pairs) and v12 (scan = IVF-restricted candidates). Assumes
    * `base` (from [[prep]]) is already in scope; its own params CTE is
    * named `pqparams` so it composes with [[ivfAssignedCtes]]'s `params`.
    */
  private lazy val pqCodeCtes: String = {
      val svDot =
        "CAST(list_sum(list_transform(list_zip(t.sv, c.c_sv), p -> p[1] * p[2])) AS BIGINT)"
      def pqLloyd(cbIn: String, r: Int): String =
        s"""pa$r AS (
           |  SELECT sub, code, sv FROM (
           |    SELECT t.vec_id, t.sub, c.code, t.sv,
           |      row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
           |        t.sv_nrm + c.c_nrm - 2 * $svDot, c.code) AS arnk
           |    FROM tsub t JOIN $cbIn c ON t.sub = c.sub)
           |  WHERE arnk = 1),
           |pm$r AS (
           |  SELECT sub, code, pos,
           |    CAST(round(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS comp
           |  FROM (SELECT sub, code, unnest(generate_series(1, len(sv))) AS pos, unnest(sv) AS v FROM pa$r)
           |  GROUP BY 1, 2, 3),
           |cb$r AS (
           |  SELECT sub, code, c_sv,
           |    CAST(list_sum(list_transform(c_sv, x -> x * x)) AS BIGINT) AS c_nrm
           |  FROM (SELECT sub, code, list(comp ORDER BY pos) AS c_sv FROM pm$r GROUP BY 1, 2))""".stripMargin
      s"""pqparams AS (
         |  SELECT cnt, greatest(1, cnt // ${PqK * PqTrainPerCode}) AS s
         |  FROM (SELECT count(*) AS cnt FROM embeddings)),
         |trainv AS (
         |  SELECT b.* FROM base b CROSS JOIN pqparams p
         |  WHERE CAST(('0x' || substr(md5('pqtrain|' || CAST(b.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % p.s = 0),
         |seedids AS (
         |  SELECT vec_id FROM (
         |    SELECT t.vec_id, row_number() OVER (ORDER BY
         |        substr(md5('pqseed|' || CAST(t.vec_id AS VARCHAR)), 1, 8), t.vec_id) AS srnk
         |    FROM trainv t)
         |  WHERE srnk <= $PqK),
         |tsub AS (
         |  SELECT vec_id, sub, qv[sub * $PqD + 1 : sub * $PqD + $PqD] AS sv,
         |    CAST(list_sum(list_transform(qv[sub * $PqD + 1 : sub * $PqD + $PqD], x -> x * x)) AS BIGINT) AS sv_nrm
         |  FROM (SELECT vec_id, qv, unnest(generate_series(0, ${PqM - 1})) AS sub FROM trainv)),
         |cb0 AS (
         |  SELECT t.sub, t.vec_id AS code, t.sv AS c_sv, t.sv_nrm AS c_nrm
         |  FROM tsub t JOIN seedids s ON t.vec_id = s.vec_id),
         |${pqLloyd("cb0", 1)},
         |${pqLloyd("cb1", 2)},
         |allsub AS (
         |  SELECT vec_id, sub, qv[sub * $PqD + 1 : sub * $PqD + $PqD] AS sv,
         |    CAST(list_sum(list_transform(qv[sub * $PqD + 1 : sub * $PqD + $PqD], x -> x * x)) AS BIGINT) AS sv_nrm
         |  FROM (SELECT vec_id, qv, unnest(generate_series(0, ${PqM - 1})) AS sub FROM base)),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT t.vec_id, t.sub, c.code,
         |      row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
         |        t.sv_nrm + c.c_nrm - 2 * $svDot, c.code) AS arnk
         |    FROM allsub t JOIN cb2 c ON t.sub = c.sub)
         |  WHERE arnk = 1),
         |tab AS (
         |  SELECT t.vec_id AS query_id, t.sub, c.code, $svDot AS tdot
         |  FROM allsub t JOIN cb2 c ON t.sub = c.sub
         |  WHERE t.vec_id < $PqNQueries)""".stripMargin
  }

  private lazy val pqScoredCtes: String =
    s"""$prep,
       |$pqCodeCtes,
       |scored AS (
       |  SELECT t.query_id, c.vec_id, CAST(sum(t.tdot) AS BIGINT) AS approx_dot
       |  FROM codes c JOIN tab t ON c.sub = t.sub AND c.code = t.code
       |  WHERE c.vec_id != t.query_id
       |  GROUP BY 1, 2)""".stripMargin

  /** The composed IVF+PQ scan through `ivfpq` (query_id, vec_id, cell,
    * approx_dot) — [[ivfAssignedCtes]]'s coarse quantizer restricting
    * candidates to each query's NProbe nearest cells, scored by
    * [[pqCodeCtes]]'s asymmetric lookup tables. Shared by v12 (top-k
    * output) and v13 (recall monitor).
    */
  private lazy val ivfPqScoredCtes: String =
    s"""$ivfAssignedCtes,
       |$pqCodeCtes,
       |qcells AS (
       |  SELECT query_id, cell FROM (
       |    SELECT b.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        b.nrm + c.c_nrm
       |          - 2 * CAST(list_sum(list_transform(list_zip(b.qv, c.c_qv), p -> p[1] * p[2])) AS BIGINT),
       |        c.cell) AS arnk
       |    FROM base b CROSS JOIN cent2 c
       |    WHERE b.vec_id < $PqNQueries)
       |  WHERE arnk <= $NProbe),
       |cand AS (
       |  SELECT q.query_id, a.vec_id, a.cell
       |  FROM qcells q JOIN assigned a ON a.cell = q.cell
       |  WHERE a.vec_id != q.query_id),
       |ivfpq AS (
       |  SELECT cd.query_id, cd.vec_id, cd.cell, CAST(sum(t.tdot) AS BIGINT) AS approx_dot
       |  FROM cand cd
       |  JOIN codes c ON c.vec_id = cd.vec_id
       |  JOIN tab t ON t.query_id = cd.query_id AND t.sub = c.sub AND t.code = c.code
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** Quantized-vector CTE shared by the oracles (DuckDB dialect). Buckets
    * derive from qv signs (not the raw floats) — identical to the Scala
    * path, where quantization preserves sign.
    */
  private val prep =
    """n AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |base AS (
      |  SELECT vec_id, qv,
      |         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
      |  FROM n)""".stripMargin

  private val cosineExpr =
    """CAST(CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
      |    / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))""".stripMargin

  /** SQL twin of [[Similarity.autoBits]]: bitlength via bin(), no float
    * log2 (floor(log2(2^k)) can land on k-1 in doubles).
    */
  private def autoBitsSql(target: Long, floor: Int): String =
    s"greatest($floor, length(bin(greatest(1, cnt // $target))))"

  /** Multi-table LSH block -> cap -> distinct candidates -> exact verify,
    * with b/T either derived from count(*) or fixed (d7).
    */
  private def blockedNearDupSql(paramsCte: String, threshold: Double): String =
    s"""WITH $prep,
       |$paramsCte,
       |slots AS (
       |  SELECT vec_id, qv, b, unnest(generate_series(0, t - 1)) AS tt
       |  FROM base CROSS JOIN params),
       |bucketed AS (
       |  SELECT vec_id,
       |    CAST(tt AS VARCHAR) || ':' || array_to_string(list_transform(generate_series(1, b), i ->
       |      CASE WHEN qv[tt * b + i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
       |  FROM slots),
       |cool AS (
       |  SELECT vec_id, bucket FROM bucketed
       |  QUALIFY count(*) OVER (PARTITION BY bucket) <= $MaxBucket),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM cool x JOIN cool y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT c.vec_a, c.vec_b,
       |    $cosineExpr AS cosine
       |  FROM cand c JOIN base a ON c.vec_a = a.vec_id JOIN base b ON c.vec_b = b.vec_id)
       |WHERE cosine >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** One Lloyd round in SQL over the training sample: assign to nearest
    * centroid (exact integer dist^2, (dist2, cell) tie-break), then
    * component-wise integer-rounded mean. Mirrors
    * [[Similarity.kmeansCentroids]] exactly.
    */
  private def lloydRound(centIn: String, n: Int): String =
    s"""a$n AS (
       |  SELECT vec_id, qv, nrm, cell FROM (
       |    SELECT b.vec_id, b.qv, b.nrm, c.cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        b.nrm + c.c_nrm
       |          - 2 * CAST(list_sum(list_transform(list_zip(b.qv, c.c_qv), p -> p[1] * p[2])) AS BIGINT),
       |        c.cell) AS arnk
       |    FROM train b CROSS JOIN $centIn c)
       |  WHERE arnk = 1),
       |m$n AS (
       |  SELECT cell, pos,
       |    CAST(round(CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS comp
       |  FROM (SELECT cell, unnest(generate_series(1, len(qv))) AS pos, unnest(qv) AS v FROM a$n)
       |  GROUP BY cell, pos),
       |cent$n AS (
       |  SELECT cell, c_qv, CAST(list_sum(list_transform(c_qv, x -> x * x)) AS BIGINT) AS c_nrm
       |  FROM (SELECT cell, list(comp ORDER BY pos) AS c_qv FROM m$n GROUP BY cell))""".stripMargin

  /** Nearest-cent2-cell assignment of `src` in SQL — the v14 incremental
    * oracle needs it three times (build corpus, append batch, probe
    * side), each against the SAME build-trained centroid frame.
    */
  private def assignToCent2(src: String): String =
    s"""SELECT vec_id, qv, nrm, cell FROM (
       |    SELECT b.vec_id, b.qv, b.nrm, c.cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        b.nrm + c.c_nrm
       |          - 2 * CAST(list_sum(list_transform(list_zip(b.qv, c.c_qv), p -> p[1] * p[2])) AS BIGINT),
       |        c.cell) AS arnk
       |    FROM $src b CROSS JOIN cent2 c)
       |  WHERE arnk = 1""".stripMargin

  /** v14's oracle: the build/append split lifecycle re-derived in SQL —
    * quantizer (cells, training sample, seeds, Lloyd) from the BUILD
    * corpus only; build side capped, append side not; probe = full
    * corpus against the union.
    */
  private lazy val ivfIncrementalSql: String =
    s"""WITH $prep,
       |corpus0 AS (SELECT * FROM base WHERE vec_id % 10 != 0),
       |delta AS (SELECT * FROM base WHERE vec_id % 10 = 0),
       |params AS (
       |  SELECT cnt, least($IvfCapCells, greatest($IvfFloorCells, CAST(floor(sqrt(cnt)) AS BIGINT))) AS c
       |  FROM (SELECT count(*) AS cnt FROM corpus0)),
       |params2 AS (
       |  SELECT cnt, c, greatest(1, cnt // (c * $IvfTrainPerCell)) AS s FROM params),
       |train AS (
       |  SELECT b.* FROM corpus0 b CROSS JOIN params2 p
       |  WHERE CAST(('0x' || substr(md5('kmtrain|' || CAST(b.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % p.s = 0),
       |cent0 AS (
       |  SELECT vec_id AS cell, qv AS c_qv, nrm AS c_nrm FROM (
       |    SELECT t.*, row_number() OVER (ORDER BY
       |        substr(md5('kmseed|' || CAST(t.vec_id AS VARCHAR)), 1, 8), t.vec_id) AS srnk
       |    FROM train t) CROSS JOIN params2 p
       |  WHERE srnk <= p.c),
       |${lloydRound("cent0", 1)},
       |${lloydRound("cent1", 2)},
       |based AS (
       |  ${assignToCent2("corpus0")}),
       |capped AS (
       |  SELECT * FROM based QUALIFY count(*) OVER (PARTITION BY cell) <= $MaxCell),
       |deltad AS (
       |  ${assignToCent2("delta")}),
       |stored AS (SELECT * FROM capped UNION ALL SELECT * FROM deltad),
       |probes AS (
       |  ${assignToCent2("base")}),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.cell AS cell,
       |    $cosineExpr AS cosine
       |  FROM probes a JOIN stored b ON b.cell = a.cell AND b.vec_id != a.vec_id)
       |SELECT query_id, vec_id, cell, rnk, cosine FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
       |  FROM scored)
       |WHERE rnk <= 1 ORDER BY query_id, rnk""".stripMargin

  /** The IVF quantizer chain shared by v3 and d9: derived cell count,
    * hash-drawn training sample, md5-rank seeds + 2 Lloyd rounds, nearest-centroid
    * assignment, hot-cell cap. Mirrors [[Similarity.semDedup]] /
    * [[Similarity.ivfTopKAuto]] stage for stage.
    */
  /** The v15 kNN-graph lifecycle through its ranked edge set `g1`
    * (derived bits, capped buckets, directed candidates, init top-k, one
    * NN-descent neighbor-of-neighbor expansion, final top-k) — shared by
    * the v15 gate (adds mutuality) and the v17 graph-ANN gate (walks the
    * graph).
    */
  /** The kNN-graph build CTE chain (params..g1) over relation `rel` —
    * parameterized so v15/v17/v18 run it on the full `base` and v22's
    * incremental replay runs it on the base SLICE.
    */
  private def knnGraphCtesOn(rel: String): String =
    s"""params AS (
       |  SELECT b, greatest(1, least($KgTables, $EmbedDim // b)) AS t FROM (
       |    SELECT ${autoBitsSql(BlockTargetBucket, BlockFloorBits)} AS b
       |    FROM (SELECT count(*) AS cnt FROM $rel))),
       |slots AS (
       |  SELECT vec_id, qv, b, unnest(generate_series(0, t - 1)) AS tt
       |  FROM $rel CROSS JOIN params),
       |bucketed AS (
       |  SELECT vec_id,
       |    CAST(tt AS VARCHAR) || ':' || array_to_string(list_transform(generate_series(1, b), i ->
       |      CASE WHEN qv[tt * b + i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
       |  FROM slots),
       |cool AS (
       |  SELECT vec_id, bucket FROM bucketed
       |  QUALIFY count(*) OVER (PARTITION BY bucket) <= $MaxBucket),
       |cand0 AS MATERIALIZED (
       |  SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |  FROM cool x JOIN cool y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |v0 AS (
       |  SELECT c.src, c.dst, $cosineExpr AS cosine
       |  FROM cand0 c JOIN $rel a ON c.src = a.vec_id JOIN $rel b ON c.dst = b.vec_id),
       |g0 AS (
       |  SELECT src, dst FROM v0
       |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) <= $KnnGraphK),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM
       |    (SELECT src, dst FROM g0 UNION ALL SELECT dst, src FROM g0)),
       |cand1 AS (
       |  SELECT DISTINCT e1.src, e2.dst FROM und e1 JOIN und e2 ON e1.dst = e2.src
       |  WHERE e1.src <> e2.dst),
       |allc AS (SELECT src, dst FROM cand0 UNION SELECT src, dst FROM cand1),
       |v1 AS (
       |  SELECT c.src, c.dst, $cosineExpr AS cosine
       |  FROM allc c JOIN $rel a ON c.src = a.vec_id JOIN $rel b ON c.dst = b.vec_id),
       |g1 AS MATERIALIZED (
       |  SELECT src, dst, cosine,
       |    row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rnk
       |  FROM v1
       |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) <= $KnnGraphK)""".stripMargin

  private lazy val knnGraphCtes: String = s"$prep,\n${knnGraphCtesOn("base")}"

  /** v17's oracle: the beam search replayed in SQL — seeds by the
    * gannseed md5 draw, then [[GannRounds]] unrolled (frontier → graph
    * expansion → exact score → DISTINCT fold) CTE blocks over g1's
    * undirected closure.
    */
  /** The unrolled beam-search round CTEs (fr/cd/nw/sc chains) over edge
    * relation `undRel` scored against vector relation `baseRel`.
    */
  private def gannRoundsSql(baseRel: String, undRel: String): String =
    (1 to GannRounds)
      .map { r =>
        val prev = s"sc${r - 1}"
        s"""fr$r AS (
           |  SELECT query_id, vec_id FROM $prev
           |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) <= $GannBeam),
           |cd$r AS (
           |  SELECT DISTINCT f.query_id, u.dst AS vec_id
           |  FROM fr$r f JOIN $undRel u ON u.src = f.vec_id
           |  WHERE u.dst <> f.query_id),
           |nw$r AS (
           |  SELECT c.query_id, c.vec_id, $cosineExpr AS cosine
           |  FROM cd$r c JOIN $baseRel a ON a.vec_id = c.query_id JOIN $baseRel b ON b.vec_id = c.vec_id),
           |sc$r AS MATERIALIZED (
           |  SELECT DISTINCT query_id, vec_id, cosine FROM (
           |    SELECT * FROM $prev UNION ALL SELECT * FROM nw$r))""".stripMargin
      }
      .mkString(",\n")

  private lazy val graphAnnSql: String = {
    val rounds = gannRoundsSql("base", "und2")
    s"""WITH $knnGraphCtes,
       |und2 AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM
       |    (SELECT src, dst FROM g1 UNION ALL SELECT dst, src FROM g1)),
       |seeds AS (
       |  SELECT vec_id FROM base
       |  ORDER BY substr(md5('gannseed|' || CAST(vec_id AS VARCHAR)), 1, 8), vec_id
       |  LIMIT $GannSeeds),
       |sd0 AS (
       |  SELECT a.vec_id AS query_id, s.vec_id FROM base a CROSS JOIN seeds s
       |  WHERE a.vec_id < $GannQueries
       |  UNION
       |  SELECT src AS query_id, dst AS vec_id FROM cand0 WHERE src < $GannQueries),
       |sc0 AS (
       |  SELECT c.query_id, c.vec_id, $cosineExpr AS cosine
       |  FROM (SELECT * FROM sd0 WHERE vec_id <> query_id) c
       |  JOIN base a ON a.vec_id = c.query_id JOIN base b ON b.vec_id = c.vec_id),
       |$rounds
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
       |  FROM sc$GannRounds)
       |WHERE rnk <= $GannTopK ORDER BY query_id, rnk""".stripMargin
  }

  /** v22's oracle: the maintained-index lifecycle replayed end to end —
    * the kNN-graph build chain on the BASE SLICE, the delta's one
    * NN-descent round under the standing quantizer, the tombstone
    * filter on vectors/buckets/edges, then the beam search over the
    * maintained structure.
    */
  private lazy val gannIncrementalSql: String = {
    val rounds = gannRoundsSql("livebase", "und2")
    s"""WITH $prep,
       |baseS AS (SELECT * FROM base WHERE vec_id % 5 != 4),
       |delta AS (SELECT * FROM base WHERE vec_id % 5 = 4),
       |${knnGraphCtesOn("baseS")},
       |und1 AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM
       |    (SELECT src, dst FROM g1 UNION ALL SELECT dst, src FROM g1)),
       |dslots AS (
       |  SELECT vec_id, qv, b, unnest(generate_series(0, t - 1)) AS tt
       |  FROM delta CROSS JOIN params),
       |dbucketed AS (
       |  SELECT vec_id,
       |    CAST(tt AS VARCHAR) || ':' || array_to_string(list_transform(generate_series(1, b), i ->
       |      CASE WHEN qv[tt * b + i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
       |  FROM dslots),
       |allbuckets AS (
       |  SELECT vec_id, bucket FROM cool UNION ALL SELECT vec_id, bucket FROM dbucketed),
       |dcand0 AS (
       |  SELECT DISTINCT d.vec_id AS src, o.vec_id AS dst
       |  FROM dbucketed d JOIN allbuckets o ON d.bucket = o.bucket AND d.vec_id <> o.vec_id),
       |dcand1 AS (
       |  SELECT DISTINCT c.src, u.dst FROM dcand0 c JOIN und1 u ON u.src = c.dst
       |  WHERE u.dst <> c.src),
       |dallc AS (SELECT src, dst FROM dcand0 UNION SELECT src, dst FROM dcand1),
       |dv AS (
       |  SELECT c.src, c.dst, $cosineExpr AS cosine
       |  FROM dallc c JOIN base a ON c.src = a.vec_id JOIN base b ON c.dst = b.vec_id),
       |dg AS (
       |  SELECT src, dst FROM dv
       |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) <= $KnnGraphK),
       |und2 AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM und1
       |    UNION ALL SELECT src, dst FROM dg
       |    UNION ALL SELECT dst, src FROM dg)
       |  WHERE src % 11 != 7 AND dst % 11 != 7),
       |livebase AS (SELECT * FROM base WHERE vec_id % 11 != 7),
       |livebuckets AS (SELECT vec_id, bucket FROM allbuckets WHERE vec_id % 11 != 7),
       |seeds AS (
       |  SELECT vec_id FROM livebase
       |  ORDER BY substr(md5('gannseed|' || CAST(vec_id AS VARCHAR)), 1, 8), vec_id
       |  LIMIT $GannSeeds),
       |sd0 AS (
       |  SELECT a.vec_id AS query_id, s.vec_id FROM livebase a CROSS JOIN seeds s
       |  WHERE a.vec_id < $GannQueries
       |  UNION
       |  SELECT q.vec_id AS query_id, o.vec_id
       |  FROM livebuckets q JOIN livebuckets o ON q.bucket = o.bucket
       |  WHERE q.vec_id < $GannQueries),
       |sc0 AS (
       |  SELECT c.query_id, c.vec_id, $cosineExpr AS cosine
       |  FROM (SELECT * FROM sd0 WHERE vec_id <> query_id) c
       |  JOIN livebase a ON a.vec_id = c.query_id JOIN livebase b ON b.vec_id = c.vec_id),
       |$rounds
       |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, vec_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
       |  FROM sc$GannRounds)
       |WHERE rnk <= $GannTopK ORDER BY query_id, rnk""".stripMargin
  }

  private lazy val ivfAssignedCtes: String =
    s"""$prep,
       |params AS (
       |  SELECT cnt, least($IvfCapCells, greatest($IvfFloorCells, CAST(floor(sqrt(cnt)) AS BIGINT))) AS c
       |  FROM (SELECT count(*) AS cnt FROM embeddings)),
       |params2 AS (
       |  SELECT cnt, c, greatest(1, cnt // (c * $IvfTrainPerCell)) AS s FROM params),
       |train AS (
       |  SELECT b.* FROM base b CROSS JOIN params2 p
       |  WHERE CAST(('0x' || substr(md5('kmtrain|' || CAST(b.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % p.s = 0),
       |cent0 AS (
       |  SELECT vec_id AS cell, qv AS c_qv, nrm AS c_nrm FROM (
       |    SELECT t.*, row_number() OVER (ORDER BY
       |        substr(md5('kmseed|' || CAST(t.vec_id AS VARCHAR)), 1, 8), t.vec_id) AS srnk
       |    FROM train t) CROSS JOIN params2 p
       |  WHERE srnk <= p.c),
       |${lloydRound("cent0", 1)},
       |${lloydRound("cent1", 2)},
       |assigned0 AS (
       |  SELECT vec_id, qv, nrm, cell FROM (
       |    SELECT b.vec_id, b.qv, b.nrm, c.cell,
       |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |        b.nrm + c.c_nrm
       |          - 2 * CAST(list_sum(list_transform(list_zip(b.qv, c.c_qv), p -> p[1] * p[2])) AS BIGINT),
       |        c.cell) AS arnk
       |    FROM base b CROSS JOIN cent2 c)
       |  WHERE arnk = 1),
       |assigned AS (
       |  SELECT * FROM assigned0
       |  QUALIFY count(*) OVER (PARTITION BY cell) <= $MaxCell)""".stripMargin

  /** v3's oracle — shared verbatim by v5: the persisted-index probe's
    * contract IS the from-scratch IVF in-cell top-1 (parquet round-trips
    * of exact integers change nothing), so one SQL derivation gates both
    * the one-shot and the build-once lifecycles.
    */
  private lazy val ivfTop1Sql: String =
    s"""WITH $ivfAssignedCtes,
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, a.cell AS cell,
       |    $cosineExpr AS cosine
       |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND b.vec_id != a.vec_id)
       |SELECT query_id, vec_id, cell, rnk, cosine FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
       |  FROM scored)
       |WHERE rnk <= 1 ORDER BY query_id, rnk""".stripMargin

  val oracle: Map[String, String] = Map(
    "v5_ivf_index_probe" -> ivfTop1Sql,
    // v16: the identical IVF lifecycle with the label constraint as an
    // extra equi-key inside the probe join (filtered search)
    "v16_filtered_ann" ->
      s"""WITH $ivfAssignedCtes,
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS meta FROM embeddings),
         |al AS (SELECT a.*, l.meta FROM assigned a JOIN lab l USING (vec_id)),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, a.cell AS cell, a.meta AS meta,
         |    $cosineExpr AS cosine
         |  FROM al a JOIN al b
         |    ON a.cell = b.cell AND b.vec_id != a.vec_id AND a.meta = b.meta)
         |SELECT query_id, vec_id, cell, meta, rnk, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= $FilteredK ORDER BY query_id, rnk""".stripMargin,
    "v14_ivf_incremental" -> ivfIncrementalSql,
    // v21: v5's lifecycle with the tombstoned slice dropped from BOTH
    // sides of the probe join (the quantizer still derives from the
    // full build corpus — deletes must not perturb it)
    "v21_ann_tombstones" ->
      s"""WITH $ivfAssignedCtes,
         |live AS (SELECT * FROM assigned WHERE vec_id % 7 != 3),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, a.cell AS cell,
         |    $cosineExpr AS cosine
         |  FROM live a JOIN live b ON a.cell = b.cell AND b.vec_id != a.vec_id)
         |SELECT query_id, vec_id, cell, rnk, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= 1 ORDER BY query_id, rnk""".stripMargin,
    "v6_ann_recall" ->
      s"""WITH $ivfAssignedCtes,
         |exact AS (
         |  SELECT query_id, vec_id AS true_nn FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
         |    FROM (
         |      SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $cosineExpr AS cosine
         |      FROM base a JOIN base b ON b.vec_id != a.vec_id
         |      WHERE a.vec_id < $NQueries))
         |  WHERE rnk = 1),
         |approx AS (
         |  SELECT query_id, vec_id AS ann_nn FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
         |    FROM (
         |      SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $cosineExpr AS cosine
         |      FROM assigned a JOIN assigned b ON a.cell = b.cell AND b.vec_id != a.vec_id
         |      WHERE a.vec_id < $NQueries))
         |  WHERE rnk = 1)
         |SELECT n_queries, n_hits,
         |  CAST(n_hits AS DOUBLE) / CAST(n_queries AS DOUBLE) AS recall
         |FROM (
         |  SELECT count(*) AS n_queries,
         |    CAST(sum(CASE WHEN ann_nn = true_nn THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact LEFT JOIN approx USING (query_id))""".stripMargin,
    "v1_cosine_topk" ->
      s"""WITH $prep,
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    $cosineExpr AS cosine
         |  FROM base a JOIN base b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < $NQueries)
         |SELECT query_id, vec_id, rnk, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin,
    "v25_ivf_range" ->
      s"""WITH $ivfAssignedCtes,
         |probes AS (
         |  SELECT vec_id, qv, nrm, cell FROM (
         |    SELECT b.vec_id, b.qv, b.nrm, c.cell,
         |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |        b.nrm + c.c_nrm
         |          - 2 * CAST(list_sum(list_transform(list_zip(b.qv, c.c_qv), p -> p[1] * p[2])) AS BIGINT),
         |        c.cell) AS arnk
         |    FROM base b CROSS JOIN cent2 c
         |    WHERE b.vec_id < $RangeNQueries)
         |  WHERE arnk <= $RangeNProbe),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    $cosineExpr AS cosine
         |  FROM probes a JOIN assigned b ON a.cell = b.cell AND b.vec_id != a.vec_id)
         |SELECT query_id, vec_id, cosine FROM scored
         |WHERE cosine >= $RangeThreshold
         |ORDER BY query_id, vec_id""".stripMargin,
    "v26_range_recall" ->
      s"""WITH $ivfAssignedCtes,
         |probes AS (
         |  SELECT vec_id, qv, nrm, cell FROM (
         |    SELECT b.vec_id, b.qv, b.nrm, c.cell,
         |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |        b.nrm + c.c_nrm
         |          - 2 * CAST(list_sum(list_transform(list_zip(b.qv, c.c_qv), p -> p[1] * p[2])) AS BIGINT),
         |        c.cell) AS arnk
         |    FROM base b CROSS JOIN cent2 c
         |    WHERE b.vec_id < $RangeNQueries)
         |  WHERE arnk <= $RangeNProbe),
         |exact AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id
         |  FROM base a JOIN base b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < $RangeNQueries AND $cosineExpr >= $RangeThreshold),
         |approx AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id
         |  FROM probes a JOIN assigned b ON a.cell = b.cell AND b.vec_id != a.vec_id
         |  WHERE $cosineExpr >= $RangeThreshold)
         |SELECT CAST(count(*) AS BIGINT) AS n_expected,
         |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS recall
         |FROM exact e LEFT JOIN approx ap
         |  ON e.query_id = ap.query_id AND e.vec_id = ap.vec_id""".stripMargin,
    "v24_range_search" ->
      s"""WITH $prep
         |SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |  $cosineExpr AS cosine
         |FROM base a JOIN base b ON b.vec_id != a.vec_id
         |WHERE a.vec_id < $RangeNQueries AND $cosineExpr >= $RangeThreshold
         |ORDER BY query_id, vec_id""".stripMargin,
    // v23: the t20 text CTE verbatim + a one-query exact cosine ranking,
    // fused in integer fixed-point — floor(1e6/(60+rank)) per list,
    // FULL OUTER so single-list items keep their one term
    "v23_hybrid_rrf" ->
      s"""WITH ${DocQueries.bm25Ctes},
         |$prep,
         |vscored AS (
         |  SELECT b.vec_id, $cosineExpr AS cosine
         |  FROM base a JOIN base b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id = $HybridQueryVec),
         |vtop AS (
         |  SELECT vec_id,
         |    CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk_vec
         |  FROM vscored QUALIFY rnk_vec <= ${DocQueries.Bm25TopK}),
         |txt AS (SELECT doc_id AS id, rnk AS rnk_text FROM bm25),
         |fused AS (
         |  SELECT coalesce(txt.id, v.vec_id) AS id, txt.rnk_text, v.rnk_vec,
         |    coalesce($HybridRrfScale // ($HybridRrfK + txt.rnk_text), 0)
         |      + coalesce($HybridRrfScale // ($HybridRrfK + v.rnk_vec), 0) AS rrf_x1m
         |  FROM txt FULL OUTER JOIN vtop v ON txt.id = v.vec_id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf_x1m DESC, id) AS BIGINT) AS rnk,
         |       id, rrf_x1m, rnk_text, rnk_vec
         |FROM fused QUALIFY rnk <= $HybridTopK ORDER BY rnk""".stripMargin,
    // v10: the full PQ lifecycle in SQL — hash-sampled training set,
    // md5-rank seeds sliced into every subspace, two per-subspace Lloyd
    // rounds (integer-rounded means, the v3 discipline keyed by (sub,
    // code)), corpus encoding, asymmetric table-lookup scan
    "v10_pq_topk" ->
      s"""WITH $pqScoredCtes
         |SELECT query_id, vec_id, rnk, approx_dot FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_dot DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= $PqTopK ORDER BY query_id, rnk""".stripMargin,
    // v12: IVF+PQ composed — the coarse quantizer's nProbe-cell candidate
    // restriction (v4's qcells machinery over cent2/assigned) feeding the
    // PQ asymmetric table scan (v10's codes/tab), each lifecycle CTE block
    // reused verbatim
    "v12_ivfpq_topk" ->
      s"""WITH $ivfPqScoredCtes
         |SELECT query_id, vec_id, cell, rnk, approx_dot FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_dot DESC, vec_id) AS BIGINT) AS rnk
         |  FROM ivfpq)
         |WHERE rnk <= $PqTopK ORDER BY query_id, rnk""".stripMargin,
    // v13: the composed index's quality monitor — recall@k of the v12
    // IVF+PQ scan against the exact cosine top-k (the v6/v11 pattern for
    // the composed plane; compounding loss from BOTH approximations —
    // cell misses and code quantization — is pinned as a measured value)
    "v13_ivfpq_recall" ->
      s"""WITH $ivfPqScoredCtes,
         |pqtop AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY approx_dot DESC, vec_id) AS rnk
         |    FROM ivfpq)
         |  WHERE rnk <= $PqTopK),
         |exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
         |    FROM (
         |      SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $cosineExpr AS cosine
         |      FROM base a JOIN base b ON b.vec_id != a.vec_id
         |      WHERE a.vec_id < $PqNQueries))
         |  WHERE rnk <= $PqTopK)
         |SELECT n_queries, n_expected, n_hits,
         |  CAST(n_hits AS DOUBLE) / CAST(n_expected AS DOUBLE) AS recall
         |FROM (
         |  SELECT CAST(count(DISTINCT e.query_id) AS BIGINT) AS n_queries,
         |    CAST(count(*) AS BIGINT) AS n_expected,
         |    CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact e LEFT JOIN pqtop p ON e.query_id = p.query_id AND e.vec_id = p.vec_id)""".stripMargin,
    // v11: PQ quality evaluation — recall@k of the v10 table-lookup scan
    // against the exact integer-cosine top-k over the same query set (the
    // v6 pattern for the PQ plane)
    "v11_pq_recall" ->
      s"""WITH $pqScoredCtes,
         |pqtop AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY approx_dot DESC, vec_id) AS rnk
         |    FROM scored)
         |  WHERE rnk <= $PqTopK),
         |exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
         |    FROM (
         |      SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $cosineExpr AS cosine
         |      FROM base a JOIN base b ON b.vec_id != a.vec_id
         |      WHERE a.vec_id < $PqNQueries))
         |  WHERE rnk <= $PqTopK)
         |SELECT n_queries, n_expected, n_hits,
         |  CAST(n_hits AS DOUBLE) / CAST(n_expected AS DOUBLE) AS recall
         |FROM (
         |  SELECT CAST(count(DISTINCT e.query_id) AS BIGINT) AS n_queries,
         |    CAST(count(*) AS BIGINT) AS n_expected,
         |    CAST(sum(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact e LEFT JOIN pqtop p ON e.query_id = p.query_id AND e.vec_id = p.vec_id)""".stripMargin,
    // v9: the greedy MMR rounds unrolled as chained CTEs (the g3 pagerank
    // pattern); λ=0.5 argmax reduces to argmax(rel − maxsim), identical
    // double arithmetic both engines
    "v9_mmr_diverse" -> {
      val rounds = (2 to MmrSelectK)
        .map { r =>
          val prev = s"st${r - 1}"
          val sel =
            s"""s$r AS (
               |  SELECT query_id, vec_id, rel, maxsim FROM $prev
               |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel - maxsim DESC, vec_id) = 1)"""
          val st =
            if (r < MmrSelectK)
              s""",
                 |st$r AS (
                 |  SELECT t.query_id, t.vec_id, t.rel, greatest(t.maxsim, p.sim) AS maxsim
                 |  FROM $prev t JOIN s$r ss ON t.query_id = ss.query_id AND t.vec_id != ss.vec_id
                 |  JOIN pairs p ON p.query_id = t.query_id AND p.pa = t.vec_id AND p.pb = ss.vec_id)"""
            else ""
          sel + st
        }
        .mkString(",\n")
      val unions = (2 to MmrSelectK)
        .map(r =>
          s"UNION ALL SELECT query_id, CAST($r AS BIGINT) AS rnk, vec_id, rel, maxsim FROM s$r")
        .mkString("\n")
      s"""WITH $prep,
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    $cosineExpr AS rel, b.qv, b.nrm
         |  FROM base a JOIN base b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < $MmrNQueries),
         |cand AS (
         |  SELECT * FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) <= $MmrCandK),
         |pairs AS (
         |  SELECT a.query_id, a.vec_id AS pa, b.vec_id AS pb,
         |    $cosineExpr AS sim
         |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id != b.vec_id),
         |s1 AS (
         |  SELECT query_id, vec_id, rel, CAST(NULL AS DOUBLE) AS maxsim FROM cand
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) = 1),
         |st1 AS (
         |  SELECT c.query_id, c.vec_id, c.rel, p.sim AS maxsim
         |  FROM cand c JOIN s1 ss ON c.query_id = ss.query_id AND c.vec_id != ss.vec_id
         |  JOIN pairs p ON p.query_id = c.query_id AND p.pa = c.vec_id AND p.pb = ss.vec_id),
         |$rounds
         |SELECT * FROM (
         |  SELECT query_id, CAST(1 AS BIGINT) AS rnk, vec_id, rel, maxsim FROM s1
         |  $unions)
         |ORDER BY query_id, rnk""".stripMargin
    },
    "v8_sq8_topk" ->
      s"""WITH $prep,
         |smax AS (SELECT max(list_max(list_transform(qv, x -> abs(x)))) AS s FROM base),
         |q AS (
         |  SELECT vec_id, qv, nrm,
         |    list_transform(qv, c -> CASE WHEN c >= 0 THEN (abs(c) * 127) // s
         |                                 ELSE -((abs(c) * 127) // s) END) AS q8
         |  FROM base CROSS JOIN smax),
         |qd AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    CAST(list_sum(list_transform(list_zip(a.q8, b.q8), p -> p[1] * p[2])) AS BIGINT) AS qdot
         |  FROM q a JOIN q b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < $NQueries),
         |qt AS (
         |  SELECT query_id, rnk, vec_id, qdot FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id) AS BIGINT) AS rnk
         |    FROM qd)
         |  WHERE rnk <= $TopK),
         |sc AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    $cosineExpr AS cosine
         |  FROM base a JOIN base b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < $NQueries),
         |ex AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS xrnk
         |    FROM sc)
         |  WHERE xrnk <= $TopK)
         |SELECT qt.query_id, qt.rnk, qt.vec_id, qt.qdot,
         |  CAST(CASE WHEN ex.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact
         |FROM qt LEFT JOIN ex ON ex.query_id = qt.query_id AND ex.vec_id = qt.vec_id
         |ORDER BY qt.query_id, qt.rnk""".stripMargin,
    "v7_knn_classify" ->
      s"""WITH $prep,
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    $cosineExpr AS cosine
         |  FROM base a JOIN base b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < $NQueries),
         |topk AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
         |    FROM scored)
         |  WHERE rnk <= $KnnK),
         |votes AS (
         |  SELECT t.query_id, CAST(e.label AS BIGINT) AS pred_label, count(*) AS votes
         |  FROM topk t JOIN embeddings e ON e.vec_id = t.vec_id
         |  GROUP BY 1, 2)
         |SELECT v.query_id, v.pred_label, v.votes, CAST(q.label AS BIGINT) AS true_label
         |FROM (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, pred_label) AS rk
         |    FROM votes)
         |  WHERE rk = 1) v
         |JOIN embeddings q ON q.vec_id = v.query_id
         |ORDER BY v.query_id""".stripMargin,
    "v2_ann_signlsh" ->
      s"""WITH $prep,
         |params AS (
         |  SELECT ${autoBitsSql(AnnTargetBucket, AnnFloorBits)} AS b
         |  FROM (SELECT count(*) AS cnt FROM embeddings)),
         |bucketed AS (
         |  SELECT base.*, array_to_string(list_transform(generate_series(1, p.b), i ->
         |    CASE WHEN qv[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
         |  FROM base CROSS JOIN params p),
         |cool AS (
         |  SELECT * FROM bucketed
         |  QUALIFY count(*) OVER (PARTITION BY bucket) <= $MaxBucket),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, a.bucket AS bucket,
         |    $cosineExpr AS cosine
         |  FROM cool a
         |  JOIN cool b ON a.bucket = b.bucket AND b.vec_id != a.vec_id)
         |SELECT query_id, vec_id, bucket, rnk, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= 1 ORDER BY query_id, rnk""".stripMargin,
    "v3_ann_ivf" -> ivfTop1Sql,
    "v4_ann_ivf_multiprobe" ->
      s"""WITH $ivfAssignedCtes,
         |probes AS (
         |  SELECT vec_id, qv, nrm, cell FROM (
         |    SELECT b.vec_id, b.qv, b.nrm, c.cell,
         |      row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |        b.nrm + c.c_nrm
         |          - 2 * CAST(list_sum(list_transform(list_zip(b.qv, c.c_qv), p -> p[1] * p[2])) AS BIGINT),
         |        c.cell) AS arnk
         |    FROM base b CROSS JOIN cent2 c)
         |  WHERE arnk <= $NProbe),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, b.cell AS cell,
         |    $cosineExpr AS cosine
         |  FROM probes a JOIN assigned b ON a.cell = b.cell AND b.vec_id != a.vec_id)
         |SELECT query_id, vec_id, cell, rnk, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= 1 ORDER BY query_id, rnk""".stripMargin,
    "d9_semdedup" ->
      s"""WITH $ivfAssignedCtes,
         |pairs AS (
         |  SELECT b.vec_id AS dup_id,
         |    $cosineExpr AS cosine
         |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dups AS (SELECT DISTINCT dup_id FROM pairs WHERE cosine >= $NearDupThreshold)
         |SELECT s.vec_id, s.cell,
         |  CAST(CASE WHEN d.dup_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
         |FROM assigned s LEFT JOIN dups d ON s.vec_id = d.dup_id
         |ORDER BY s.vec_id""".stripMargin,
    // e2: d9's dedup chain verbatim, survivors feeding the v1-shaped
    // exact retrieval — one WITH chain, any stage drift diverges the hash
    "e2_embedding_pipeline" ->
      s"""WITH $ivfAssignedCtes,
         |pairs AS (
         |  SELECT b.vec_id AS dup_id,
         |    $cosineExpr AS cosine
         |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dups AS (SELECT DISTINCT dup_id FROM pairs WHERE cosine >= $NearDupThreshold),
         |surv AS (
         |  SELECT s.vec_id FROM assigned s LEFT JOIN dups d ON s.vec_id = d.dup_id
         |  WHERE d.dup_id IS NULL),
         |sbase AS (SELECT b.* FROM base b JOIN surv USING (vec_id)),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         |    $cosineExpr AS cosine
         |  FROM sbase a JOIN sbase b ON b.vec_id != a.vec_id
         |  WHERE a.vec_id < $E2Queries)
         |SELECT query_id, vec_id, rnk, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= $E2TopK ORDER BY query_id, rnk""".stripMargin,
    "d5_embed_neardup" ->
      s"""WITH $prep
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  $cosineExpr AS cosine
         |FROM base a JOIN base b ON a.vec_id < b.vec_id
         |WHERE $cosineExpr >= $NearDupThreshold
         |ORDER BY vec_a, vec_b""".stripMargin,
    "d6_embed_neardup_lsh" -> blockedNearDupSql(
      s"""params AS (
         |  SELECT b, greatest(1, least($BlockMaxTables, $EmbedDim // b)) AS t FROM (
         |    SELECT ${autoBitsSql(BlockTargetBucket, BlockFloorBits)} AS b
         |    FROM (SELECT count(*) AS cnt FROM embeddings)))""".stripMargin,
      NearDupThreshold),
    // v15: the full kNN-graph pipeline replayed — derived bits, capped
    // buckets, directed candidates, init top-k, one NN-descent
    // neighbor-of-neighbor expansion, final top-k, mutuality
    "v15_knn_graph" ->
      s"""WITH $knnGraphCtes
         |SELECT g.src AS vec_id, CAST(g.rnk AS BIGINT) AS rnk, g.dst AS nbr_id, g.cosine,
         |  CAST(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS mutual
         |FROM g1 g LEFT JOIN (SELECT DISTINCT dst AS src, src AS dst FROM g1) r
         |  ON g.src = r.src AND g.dst = r.dst
         |ORDER BY vec_id, rnk""".stripMargin,
    // v17: v15's graph walked as a search structure — md5-rank entry
    // points, then GannRounds beam expansions unrolled as CTE blocks,
    // each folding newly-scored candidates into the scored set by
    // DISTINCT on bit-identical integer-cosine doubles
    "v17_graph_ann" -> graphAnnSql,
    "v22_gann_incremental" -> gannIncrementalSql,
    // v18: the persisted-index probe's contract IS the from-scratch
    // search (exact integers round-trip parquet unchanged) — one SQL
    // derivation gates both lifecycles, the v5 convention
    "v18_graph_index_probe" -> graphAnnSql,
    "d7_embed_neardup_lsh_hi" -> blockedNearDupSql(
      s"params AS (SELECT $HiBits AS b, $HiTables AS t)",
      HiThreshold),
    "v20_bq_recall" -> {
      // same signature/shortlist CTEs as v19 at top-1, judged against
      // the exact top-1 (the v6 recall-monitor shape)
      val planes = Similarity.hyperplanes(BqSeed, BqBits, EmbedDim)
      val planesLit = planes
        .map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      s"""WITH $prep,
         |pls AS (SELECT $planesLit AS pl),
         |sigs AS (
         |  SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, $BqBits), i ->
         |    CASE WHEN CAST(list_sum(list_transform(list_zip(qv, pl[i]), p -> p[1] * p[2])) AS BIGINT) >= 0
         |         THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS sig
         |  FROM base CROSS JOIN pls),
         |short AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY bit_count(xor(q.sig, c.sig)), c.vec_id) AS hrnk
         |    FROM sigs q JOIN sigs c ON c.vec_id != q.vec_id
         |    WHERE q.vec_id < $BqNQueries)
         |  WHERE hrnk <= $BqShortlist),
         |approx AS (
         |  SELECT query_id, vec_id AS ann_nn FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
         |    FROM (
         |      SELECT s.query_id, s.vec_id, $cosineExpr AS cosine
         |      FROM short s JOIN base a ON s.query_id = a.vec_id JOIN base b ON s.vec_id = b.vec_id))
         |  WHERE rnk = 1),
         |exact AS (
         |  SELECT query_id, vec_id AS true_nn FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
         |    FROM (
         |      SELECT a.vec_id AS query_id, b.vec_id AS vec_id, $cosineExpr AS cosine
         |      FROM base a JOIN base b ON b.vec_id != a.vec_id
         |      WHERE a.vec_id < $BqNQueries))
         |  WHERE rnk = 1)
         |SELECT n_queries, n_hits,
         |  CAST(n_hits AS DOUBLE) / CAST(n_queries AS DOUBLE) AS recall
         |FROM (
         |  SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |    CAST(sum(CASE WHEN ann_nn = true_nn THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM exact LEFT JOIN approx USING (query_id))""".stripMargin
    },
    "v19_binary_rerank" -> {
      // the identical ±1 planes the Scala path packs (pure function of
      // (BqSeed, i)); bit i-1 (1-based list index i) contributes
      // 2^(i-1) to the signature exactly as the engine's 1L << i
      val planes = Similarity.hyperplanes(BqSeed, BqBits, EmbedDim)
      val planesLit = planes
        .map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      s"""WITH $prep,
         |pls AS (SELECT $planesLit AS pl),
         |sigs AS (
         |  SELECT vec_id, CAST(list_sum(list_transform(generate_series(1, $BqBits), i ->
         |    CASE WHEN CAST(list_sum(list_transform(list_zip(qv, pl[i]), p -> p[1] * p[2])) AS BIGINT) >= 0
         |         THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS BIGINT) AS sig
         |  FROM base CROSS JOIN pls),
         |short AS (
         |  SELECT query_id, vec_id, hamming FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         |      CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) AS hamming,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY bit_count(xor(q.sig, c.sig)), c.vec_id) AS hrnk
         |    FROM sigs q JOIN sigs c ON c.vec_id != q.vec_id
         |    WHERE q.vec_id < $BqNQueries)
         |  WHERE hrnk <= $BqShortlist),
         |scored AS (
         |  SELECT s.query_id, s.vec_id, s.hamming, $cosineExpr AS cosine
         |  FROM short s JOIN base a ON s.query_id = a.vec_id JOIN base b ON s.vec_id = b.vec_id)
         |SELECT query_id, vec_id, rnk, hamming, cosine FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |WHERE rnk <= $TopK ORDER BY query_id, rnk""".stripMargin
    },
    "d8_embed_neardup_rp" -> {
      // The IDENTICAL ±1 planes the Scala path derives (pure function of
      // (RpSeed, k, j)), embedded as a flat list-of-lists literal; bucket
      // bit i of table tt reads pl[tt*b + i] (1-based), matching the
      // Scala layout planes(t*bits + i) exactly.
      val planes = Similarity.hyperplanes(RpSeed, RpCapBits * RpTables, EmbedDim)
      val planesLit = planes
        .map(_.mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      s"""WITH $prep,
         |params AS (
         |  SELECT least($RpCapBits, ${autoBitsSql(BlockTargetBucket, BlockFloorBits)}) AS b,
         |         $RpTables AS t
         |  FROM (SELECT count(*) AS cnt FROM embeddings)),
         |pls AS (SELECT $planesLit AS pl),
         |slots AS (
         |  SELECT vec_id, qv, b, unnest(generate_series(0, t - 1)) AS tt
         |  FROM base CROSS JOIN params),
         |bucketed AS (
         |  SELECT vec_id,
         |    CAST(tt AS VARCHAR) || ':' || array_to_string(list_transform(generate_series(1, b), i ->
         |      CASE WHEN CAST(list_sum(list_transform(list_zip(qv, pl[tt * b + i]), p -> p[1] * p[2])) AS BIGINT) >= 0
         |           THEN '1' ELSE '0' END), '') AS bucket
         |  FROM slots CROSS JOIN pls),
         |cool AS (
         |  SELECT vec_id, bucket FROM bucketed
         |  QUALIFY count(*) OVER (PARTITION BY bucket) <= $MaxBucket),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM cool x JOIN cool y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT c.vec_a, c.vec_b,
         |    $cosineExpr AS cosine
         |  FROM cand c JOIN base a ON c.vec_a = a.vec_id JOIN base b ON c.vec_b = b.vec_id)
         |WHERE cosine >= $NearDupThreshold
         |ORDER BY vec_a, vec_b""".stripMargin
    }
  )
}
