package graft.operators

import graft.Rounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round frontier BFS: shortest hop counts from a seed set over a
  * directed edge list (`src`, `dst`; feed both directions for an
  * undirected graph).
  *
  * The frontier discipline is what makes this the 100 TB shape: each round
  * joins the edge list against ONLY the nodes discovered last round, and
  * an anti-join against the settled set keeps every node's expansion from
  * happening twice — total work is O(Σ out-deg(reached)) across all
  * rounds, the same bound as single-machine BFS, instead of the
  * O(rounds·|dist|·avg-deg) a naive "re-join the whole distance table
  * every round" plan pays. Each round is two equi-joins (edges⋈frontier
  * co-keyed on src, anti on node) and a min-agg for nodes reached twice
  * in the same round; [[graft.Rounds]] cuts the lineage and frees each
  * superseded round.
  *
  * A fixed round count (not a convergence loop) keeps the gate
  * deterministic and the oracle expressible as unrolled CTEs; callers
  * that need full closure run rounds = graph diameter bound or switch to
  * [[Components]]' star contraction, which is diameter-free.
  */
object Bfs {

  /** The loop all three variants share: `round(e, dist, frontier, k)`
    * returns round k's (dist, frontier), stopping early once the frontier
    * empties. The edge list is persisted for the call, since every round
    * joins it, and released on every path once the final distance table
    * is checkpointed.
    */
  private def frontierRounds(edges: DataFrame, seed: DataFrame, rounds: Int)(
      round: (DataFrame, DataFrame, DataFrame, Int) => (DataFrame, DataFrame)): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.persist()
    try {
      val dist = Rounds.checkpoint(seed)
      Rounds.run[(DataFrame, DataFrame)]((dist, dist), rounds, stop = _.next._2.isEmpty) {
        case ((dist, frontier), k) => round(e, dist, frontier, k)
      }.state._1
    } finally e.unpersist()
  }

  /** Multi-source variant: (source, node, hop) for every (source, node)
    * pair within `rounds` hops — the state the centrality family
    * (closeness/harmonic, Brandes-style counting) runs on. Same frontier
    * discipline as [[hops]] with the key widened to (source, node), so
    * total work is O(|sources| · Σ out-deg(reached)) and every round is
    * still two equi-joins + a distinct; the source dimension rides the
    * shuffle key, never a loop over sources (|sources| sequential BFS
    * runs would pay |sources| full job launches and re-reads).
    */
  def multiHops(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame =
    frontierRounds(
      edges.select(col("src"), col("dst")),
      sources
        .select(col("source"))
        .distinct()
        .select(col("source"), col("source").as("node"), lit(0L).as("hop")),
      rounds) { (e, dist, frontier, k) =>
      val discovered = Rounds.checkpoint(
        e.join(frontier.select(col("source"), col("node").as("src")), "src")
          .select(col("source"), col("dst").as("node"))
          .distinct()
          .join(dist.select("source", "node"), Seq("source", "node"), "left_anti")
          .withColumn("hop", lit(k.toLong))
          .select(col("source"), col("node"), col("hop")))
      (Rounds.checkpoint(dist.unionAll(discovered)), discovered)
    }

  /** Bounded-round WEIGHTED SSSP — the min-plus / Bellman–Ford iteration
    * (edges `src`, `dst`, integral `w` >= 0) with a changed-set frontier:
    * each round relaxes only edges out of nodes whose distance IMPROVED
    * last round (the weighted analog of the BFS frontier — an unimproved
    * node's outgoing relaxations were already applied at its current
    * distance, so re-relaxing it can discover nothing), merges by min,
    * and diffs against the previous table to find the next frontier.
    * Produces exactly full Bellman–Ford's round-k table (the standard
    * delta argument), so the oracle stays expressible as k unrolled
    * min-agg CTEs while the plan pays O(Σ out-deg(improved)) per round.
    * Fixed rounds, the [[hops]]/k-core discipline; rounds >= the
    * shortest-path HOP bound gives the exact SSSP (FixpointSpec measures
    * the gate's bound).
    */
  def weightedHops(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    frontierRounds(
      edges.select(col("src"), col("dst"), col("w")),
      seeds.select(col("node")).distinct().withColumn("dist", lit(0L)),
      rounds) { (e, dist, frontier, _) =>
      val relaxed = e
        .join(frontier.select(col("node").as("src"), col("dist").as("fd")), "src")
        .select(col("dst").as("node"), (col("fd") + col("w")).as("dist"))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
      val merged = Rounds.checkpoint(
        dist
          .unionByName(relaxed)
          .groupBy(col("node"))
          .agg(min(col("dist")).as("dist")))
      val improved = Rounds.checkpoint(
        merged
          .join(dist.withColumnRenamed("dist", "prev"), Seq("node"), "left")
          .filter(col("prev").isNull || col("dist") < col("prev"))
          .select(col("node"), col("dist")))
      (merged, improved)
    }

  /** (node, hop) for every node within `rounds` hops of a seed; hop is
    * the BFS shortest-path hop count (seeds at 0).
    */
  def hops(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    frontierRounds(
      edges.select(col("src"), col("dst")),
      seeds.select(col("node")).distinct().withColumn("hop", lit(0L)),
      rounds) { (e, dist, frontier, k) =>
      val discovered = Rounds.checkpoint(
        e.join(frontier.select(col("node").as("src")), "src")
          .select(col("dst").as("node"))
          .distinct()
          .join(dist.select("node"), Seq("node"), "left_anti")
          .withColumn("hop", lit(k.toLong)))
      (Rounds.checkpoint(dist.unionAll(discovered)), discovered)
    }
}
