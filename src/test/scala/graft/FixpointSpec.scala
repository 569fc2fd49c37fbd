package graft

import graft.queries.RelationalQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Convergence-mode checks for the bounded-round graph operators (the
  * r11 ask): each gate runs a FIXED round budget for plan-posture and
  * oracle reasons — these specs run the same loops TO FIXPOINT on the
  * small corpus, so the budgets are measured sufficiencies (or measured,
  * pinned residues), not assumptions.
  */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local("4")
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("g19 MIS: Luby converges; the gate's rounds are the fixpoint's prefix; MIS laws hold") {
    val run = RelationalQueries.misWinners(
      spark, sf, maxRounds = 64, stop = RelationalQueries.LubySettled)
    val (winFix, roundsRun, left) = (run.state, run.rounds, if (run.stopped) 0L else -1L)
    info(s"fixpoint after $roundsRun rounds, undecided residue $left")
    assert(left == 0L, s"Luby must empty the undecided set (residue $left after $roundsRun)")
    val fix = winFix.select("node", "round").as[(Long, Long)].collect()
    // the gate's bounded-round output is EXACTLY the fixpoint's prefix
    // (the loop is deterministic — md5 priorities, no sampling)
    val gate = RelationalQueries
      .maximalIndependentSet(spark, sf)
      .select("node", "round").as[(Long, Long)].collect().toSet
    val gateRounds = gate.map(_._2).max
    assert(fix.filter(_._2 <= gateRounds).toSet == gate,
      "bounded-round gate output must be the fixpoint run's prefix")
    // measured on this fixture: fixpoint in 4 rounds, 10 winners; the
    // gate's 3-round budget adopts 8 of them — the documented
    // bounded-round residue is exactly what round 4 adopts
    info(s"gate rounds $gateRounds adopt ${gate.size} of ${fix.length} fixpoint winners")
    // MIS laws at the fixpoint: independence (no co-occurrence edge
    // joins two winners) and maximality (residue 0 = every node decided,
    // i.e. in the set or adjacent to it)
    val winners = winFix.select(col("node"))
    val internal = RelationalQueries
      .coOccurrenceEdges(spark, sf)
      .join(winners.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
      .join(winners.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
      .count()
    assert(internal == 0L, s"independence violated: $internal edges inside the set")
  }

  test("g18 k-truss: the 3-round peel IS the fixpoint on this corpus") {
    val counts = scala.collection.mutable.ListBuffer.empty[(Int, Long)]
    val fix = RelationalQueries
      .kTrussPeelRounds(spark, sf, maxRounds = 64, stop = RelationalQueries.PeelStable,
        onRound = r => counts += ((r.index, r.next.n)))
    info(s"peel trajectory: ${counts.mkString(", ")}")
    val fixSet = fix.select("a", "b", "common").as[(Long, Long, Long)].collect().toSet
    val gateSet = RelationalQueries
      .queries("g18_ktruss")(spark, sf)
      .select("a", "b", "common").as[(Long, Long, Long)].collect().toSet
    assert(gateSet == fixSet,
      s"gate's bounded peel (${gateSet.size} edges) must equal the fixpoint (${fixSet.size})")
    // alive sets are nested, so the trajectory must be non-increasing and
    // end with two equal counts (the fixpoint witness)
    val traj = counts.map(_._2).toList
    assert(traj.zip(traj.tail).forall { case (x, y) => y <= x }, s"peel must shrink: $traj")
    assert(traj.size < 2 || traj.takeRight(2).distinct.size == 1,
      s"fixpoint loop must end on a stable count: $traj")
  }

  test("g17 closeness: the 4-hop radius reaches everything a larger radius does") {
    def reach(rounds: Int): Map[Long, (Long, Long, Long)] = RelationalQueries
      .closenessRounds(spark, sf, rounds)
      .select("source", "n_reached", "sum_hops", "harm12")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val atGate = reach(4)
    val wider = reach(8)
    // n_reached equal at twice the radius => the 4-hop frontier was
    // already exhausted (the co-supply graph is dense), so sum_hops and
    // the harmonic numerator are exact, not truncations
    assert(atGate.keySet == wider.keySet)
    val truncated = atGate.count { case (s, (n, _, _)) => wider(s)._1 != n }
    assert(truncated == 0,
      s"$truncated of ${atGate.size} sources still had unreached nodes past radius 4")
    assert(atGate == wider, "hop sums must be stable once reach is stable")
  }

  test("g21 weighted SSSP: the 4-round distances vs the 8-round fixpoint, measured") {
    def dists(rounds: Int): Map[Long, Long] = RelationalQueries
      .weightedSsspRounds(spark, sf, rounds)
      .as[(Long, Long)].collect().toMap
    val atGate = dists(4)
    val wider = dists(8)
    // hop-4 reach is exhausted on this graph (the g17 proof), so the
    // node SET cannot grow — but weighted distances can still IMPROVE
    // through longer-hop lighter paths. Pin the divergence as a measured
    // value: how many of the gate's distances a deeper run tightens.
    assert(atGate.keySet == wider.keySet,
      "reach is hop-bounded and hop-4 was already exhausted (g17)")
    val improvable = atGate.count { case (n, d) => wider(n) < d }
    info(s"$improvable of ${atGate.size} distances tighten between round 4 and round 8")
    assert(atGate.forall { case (n, d) => wider(n) <= d },
      "deeper rounds may only tighten distances, never worsen them")
    // and round 8 is itself the fixpoint on this corpus: one more
    // doubling changes nothing
    assert(dists(16) == wider, "round 8 must be the min-plus fixpoint at sf0.001")
  }

  test("g20 components: the 8-round budget IS the fixpoint; labels match union-find ground truth") {
    val run = RelationalQueries.componentRounds(
      spark, sf, maxRounds = 64, stop = RelationalQueries.LabelsStable)
    val (labFix, roundsRun, changed) = (run.state, run.rounds, if (run.stopped) 0L else -1L)
    info(s"fixpoint after $roundsRun rounds (last counted delta $changed)")
    assert(changed == 0L, s"loop must converge (delta $changed after $roundsRun rounds)")
    assert(roundsRun <= 8, s"gate's 8-round budget must cover the fixpoint ($roundsRun)")
    val fix = labFix.select("node", "comp").as[(Long, Long)].collect().toMap
    val gate = RelationalQueries
      .queries("g20_components")(spark, sf)
      .select("node", "comp").as[(Long, Long)].collect().toMap
    assert(gate == fix, "bounded-round gate labels must equal the fixpoint labels")
    // ground truth: driver-side union-find over the (tiny) strong-tie
    // edge list — the gate's partition must be EXACTLY the connected
    // components, with the min node id as each component's label
    val edges = RelationalQueries
      .strongCoEdges(spark, sf)
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(n => n -> find(n)).toMap
    // canonicalize union-find roots to min-of-component (find() already
    // unions toward the smaller root, so roots ARE component minima)
    assert(gate == truth,
      s"gate partition diverges from union-find (gate ${gate.size} nodes, truth ${truth.size})")
    info(s"${gate.values.toSet.size} components over ${gate.size} nodes")
  }
}
