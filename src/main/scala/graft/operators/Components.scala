package graft.operators

import graft.Rounds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (d2/d3/d6 output) into dedup GROUPS: every document labeled with
  * the smallest doc id reachable through the similarity graph, so "keep
  * the canonical, drop the rest" is a filter.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with itself; each round, a node takes the min of its own label and its
  * neighbors' labels; stop when a round changes nothing. Each round is one
  * equi-join + one aggregation — all shuffles on node id, no driver-side
  * graph state (the only driver work is the per-round convergence count).
  * Rounds needed = graph diameter; near-dup clusters are shallow
  * (dozens of near-identical docs all pairwise linked), so 3-5 rounds is
  * typical — use this as the shallow-graph fast path. For adversarially
  * deep graphs (long transitive chains from templated/boilerplate
  * corpora) rounds = diameter is a scale hazard, so the GATED production
  * path is [[connectedComponentsStar]] (Kiveris et al. 2014, "Connected
  * Components in MapReduce and Beyond"), which squares path lengths per
  * round and converges in O(log^2 n) rounds at any diameter.
  *
  * Each round references the previous labels TWICE (own label + neighbor
  * propagation), so both loops run on [[graft.Rounds]], which cuts the
  * lineage per round and frees each superseded round.
  */
object Components {

  /** Labels every node in `nodes` (one column, `id`) with the minimum id
    * of its component in the undirected graph given by `edges`
    * (columns `src`, `dst`). Nodes absent from `edges` keep their own id.
    * Output: id, label.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val undirected = edges
      .select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Labels only ever DECREASE (least of own + neighbor min), so the
    // label sum strictly decreases exactly when any label changed —
    // convergence detection is one aggregate over the checkpointed round,
    // not a join against the previous one. decimal(38,0) because a sum of
    // n ids is O(n^2), past Long at corpus scale.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
        .head()
        .getDecimal(0)
    val run =
      try {
        val seed = Rounds.checkpoint(nodes.select(col("id"), col("id").as("label")))
        Rounds.run[(DataFrame, java.math.BigDecimal)](
          (seed, labelSum(seed)),
          maxIter,
          stop = r => r.next._2.compareTo(r.prev._2) == 0) { case ((labels, _), _) =>
          val neighborMin = undirected
            .join(labels, undirected("dst") === labels("id"))
            .groupBy(undirected("src").as("nid"))
            .agg(min(col("label")).as("nbr_min"))
          val next = Rounds.checkpoint(
            labels
              .join(neighborMin, labels("id") === neighborMin("nid"), "left")
              .select(
                labels("id"),
                least(labels("label"), coalesce(col("nbr_min"), labels("label"))).as("label")))
          (next, labelSum(next))
        }
      } finally undirected.unpersist()
    if (!run.stopped)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — graph diameter " +
          "exceeds the budget; raise maxIter or use connectedComponentsStar, which " +
          "converges in O(log^2 n) rounds regardless of diameter. Returning partial " +
          "labels would silently keep duplicates downstream.")
    run.state._1
  }

  /** Diameter-independent variant: alternating large-star/small-star
    * contraction (Kiveris et al. 2014). Each round rewires every node
    * toward the minimum of its neighborhood — large-star for neighbors
    * above the node, small-star for those below — which squares path
    * lengths instead of shortening them by one hop, so a million-node
    * chain converges in ~log^2 rounds where min-propagation needs a
    * million. Same contract as [[connectedComponents]]; prefer this when
    * the similarity graph may contain long transitive chains (templated /
    * boilerplate corpora).
    */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    def canonical(e: DataFrame): DataFrame =
      e.filter(col("src") =!= col("dst"))
        .select(
          least(col("src"), col("dst")).as("lo"),
          greatest(col("src"), col("dst")).as("hi"))
        .distinct()

    // Deterministic fingerprint of an edge set: xor of per-edge hashes is
    // order- and partitioning-independent, so equality across rounds means
    // the star forest is stable.
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e
        .agg(
          count(lit(1)).as("n"),
          coalesce(bit_xor(xxhash64(col("lo"), col("hi"))), lit(0L)).as("h"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    // large-star: every neighbor v > u links to m = min(neighborhood of u)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("minv"))
        .select(col("u"), least(col("minv"), col("u")).as("mu"))
      canonical(
        sym.filter(col("v") > col("u"))
          .join(m, Seq("u"))
          .select(col("v").as("src"), col("mu").as("dst")))
    }

    // small-star: every neighbor v < u (and u itself) links to the min of
    // u's below-neighborhood. ONE join feeds both rewired edge sets (the
    // v->mu and u->mu rows come out of the same joined row via explode)
    // instead of joining down><m twice — one fewer shuffle per round.
    def smallStar(e: DataFrame): DataFrame = {
      val down = e.select(col("hi").as("u"), col("lo").as("v"))
      val m = down.groupBy(col("u")).agg(min(col("v")).as("mu"))
      val rewired = down
        .join(m, Seq("u"))
        .select(explode(array(col("v"), col("u"))).as("src"), col("mu").as("dst"))
      canonical(rewired)
    }

    // an empty edge set is stable after one no-op round
    val e0 = Rounds.checkpoint(canonical(edges.select(col("src"), col("dst"))))
    val run = Rounds.run[(DataFrame, (Long, Long))](
      (e0, fingerprint(e0)),
      maxIter,
      stop = r => r.next._2 == r.prev._2) { case ((e, _), _) =>
      val next = Rounds.checkpoint(smallStar(largeStar(e)))
      (next, fingerprint(next))
    }
    if (!run.stopped)
      throw new IllegalStateException(
        s"connectedComponentsStar did not stabilize in $maxIter rounds")
    // stable star forest: every edge is (root=lo, member=hi)
    nodes
      .join(
        run.state._1.select(col("hi").as("id"), col("lo").as("root")),
        Seq("id"),
        "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("label"))
  }

  /** Edge-count threshold below which [[connectedComponentsAuto]] tries
    * propagation first. Both algorithms pay a near-constant per-round
    * action overhead (joins + lineage cut + convergence aggregate) that
    * dominates on small graphs, where star's machinery (two rewiring
    * shuffles + canonical dedup per round) costs several times
    * propagation's single join — while above the threshold the
    * diameter-independence argument wins outright: a graph with that many
    * edges can hide a chain no propagation budget should chase.
    */
  val PropagationMaxEdges: Long = 100000L

  /** Size-dispatched components — the [[connectedComponents]] /
    * [[connectedComponentsStar]] chooser: count the edges once (the pair
    * frames feeding this are persisted by their producers, so the count
    * is a cache scan); small graphs take the propagation fast path,
    * everything else — including a small-but-DEEP graph that exhausts
    * propagation's round budget (its non-convergence throw is the
    * detection) — runs star contraction. Same contract as both: every
    * node labeled with its component's minimum id.
    */
  def connectedComponentsAuto(
      nodes: DataFrame,
      edges: DataFrame,
      propagationMaxEdges: Long = PropagationMaxEdges): DataFrame =
    // clamp: a caller-supplied threshold >= Int.MaxValue would overflow
    // limit()'s Int argument to a negative count and fail at analysis
    // time instead of dispatching to star
    if (edges
        .limit(math.min(propagationMaxEdges + 1, Int.MaxValue.toLong).toInt)
        .count() <= propagationMaxEdges)
      try connectedComponents(nodes, edges)
      catch {
        case _: IllegalStateException => connectedComponentsStar(nodes, edges)
      }
    else connectedComponentsStar(nodes, edges)
}
