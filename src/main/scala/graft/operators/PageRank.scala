package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank with EXACT integer arithmetic.
  *
  * The float formulation (r' = 0.15 + 0.85·Σ r/deg) sums doubles across
  * neighbors, which is partition-order-dependent — ungateable. This
  * variant keeps every rank as an integer multiple of 1/[[Scale]] and
  * replaces both divisions with integer floor division:
  *
  *   r'(v) = Scale·15/100  +  (85 · Σ_{u→v} (r(u) div deg(u))) div 100
  *
  * Integer sums are exact in any order, so the result is bit-identical
  * across partitionings and engines (DuckDB `//` agrees with Spark `div`
  * on non-negative operands; all ranks here are non-negative). The
  * truncation loses at most deg·100/Scale of rank mass per node per
  * iteration — at Scale = 1e9 that is noise for any analytic use, and the
  * determinism is what makes the operator testable.
  *
  * Scale posture: each iteration is the canonical Pregel shape — an
  * edges⋈ranks equi-join on src followed by a dst-keyed aggregation. The
  * edge frame is persisted once (callers run inside [[graft.CacheScope]])
  * and its src-hash partitioning is reused by every iteration's join; the
  * rank frame is |V| rows, small relative to |E|. Long overflow headroom:
  * a node's incoming mass is bounded by |V|·Scale, so 85·Σ stays inside
  * a long for |V| up to ~1e8 at Scale = 1e9; raise Scale only with a
  * decimal combine. The rounds compose lazily (linear lineage, no
  * per-round job); for many more iterations than the handful used here,
  * run them on [[graft.Rounds]], which cuts lineage and frees each
  * superseded round.
  */
object PageRank {

  /** Rank fixed-point denominator: rank 1.0 == Scale. */
  val Scale: Long = 1000000000L

  /** Run `iterations` rounds over a directed edge list (`src`, `dst`).
    * Node set = distinct sources (every node of an undirected graph
    * appears as a source once both edge directions are present — callers
    * mirror edges for undirected semantics). Returns (node, deg, pr).
    */
  def run(edges: DataFrame, iterations: Int): DataFrame = {
    // Shuffle the edge list by src ONCE and persist that partitioning:
    // deg aggregates on it exchange-free, and every iteration's
    // edges⋈ranks join is then co-partitioned (ranks inherits the same
    // hash partitioning through deg's lineage), so the only exchange per
    // round is the dst-keyed contribution aggregation — the message
    // routing itself, which is irreducible. At 100 TB this is the
    // difference between 5 full-edge shuffles and 1.
    val e = edges.select(col("src"), col("dst")).repartition(col("src")).persist()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    var ranks = deg.select(col("src").as("node"), col("deg"), lit(Scale).as("pr"))
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_sum"))
      ranks = deg
        .join(contrib, deg("src") === contrib("dst"), "left")
        .select(
          deg("src").as("node"),
          deg("deg"),
          (lit(Scale * 15L / 100L) + expr("85 * coalesce(in_sum, 0L) div 100")).as("pr"))
    }
    ranks
  }

  /** Personalized PageRank: the restart mass lands only on `seeds`
    * (a one-column `node` frame) instead of uniformly — the
    * relevance-to-a-query-set ranking (Jeh & Widom 2003, "Scaling
    * personalized web search"). Same exact-integer Pregel loop as
    * [[run]] — the seed set broadcasts once into the degree frame, so
    * per-iteration cost is identical: one co-partitioned edges⋈ranks
    * join plus the dst-keyed contribution aggregation. Initial rank is
    * Scale on seeds, 0 elsewhere. Returns (node, deg, is_seed, pr).
    */
  def personalized(edges: DataFrame, iterations: Int, seeds: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).repartition(col("src")).persist()
    val deg = e
      .groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .join(
        broadcast(seeds.select(col("node").as("src"), lit(1L).as("is_seed"))),
        Seq("src"),
        "left")
      .select(col("src"), col("deg"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      .persist()
    val base = Scale * 15L / 100L
    var ranks = deg.select(
      col("src").as("node"),
      col("deg"),
      col("is_seed"),
      (col("is_seed") * Scale).as("pr"))
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_sum"))
      ranks = deg
        .join(contrib, deg("src") === contrib("dst"), "left")
        .select(
          deg("src").as("node"),
          deg("deg"),
          deg("is_seed"),
          (col("is_seed") * base + expr("85 * coalesce(in_sum, 0L) div 100")).as("pr"))
    }
    ranks
  }
}
