package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

import scala.annotation.tailrec

/** The bounded-round driver behind every eagerly checkpointed iteration
  * in the engine (the [[graft.operators.Bfs]] frontiers, both
  * [[graft.operators.Components]] loops, the g12/g18/g19/g20 rounds, the
  * graph-ANN beam and the MMR greedy rounds). The caller supplies an
  * initial state and one `step`; the driver owns the rest of the loop:
  *
  *  - The lineage cut. A step materializes what it hands on through
  *    [[checkpoint]] (an eager `localCheckpoint`: truncated lineage,
  *    blocks kept on the executors), so round k's plan never replays
  *    rounds 1..k-1. A state read twice per round would otherwise double
  *    the logical plan every round (exponential analyzer cost that OOMs
  *    the driver near round 10). On a real cluster a reliable
  *    `checkpoint()` to durable storage survives executor loss.
  *  - The lifetime of each round's blocks. Once the successor state is
  *    materialized, every checkpoint the predecessor held is freed unless
  *    a frame of the successor still reads it. A checkpointed Dataset's
  *    plan is a bare LogicalRDD, which `Dataset.unpersist` cannot reach,
  *    so without this a loop holds one block set per round (at 100 TB a
  *    |V|-sized frontier times the round count) until batch-end
  *    [[CacheScope]]. Freed blocks have no lineage to recompute from, which
  *    is why a frame still read lazily is kept: an accumulator built as a
  *    lazy union over rounds keeps every round it names, so carry it in a
  *    checkpointed frame of the state when storage must stay flat.
  *  - The round budget, one stop rule and one per-round hook. Both see the
  *    finished [[Round]] while its predecessor is still readable; the hook
  *    runs first. Neither is called for the initial state.
  *
  * A state is a DataFrame, or a tuple / case class / Option holding
  * DataFrames and plain values; the driver finds the frames
  * structurally.
  *
  * Lazy loops with linear lineage and no per-round job (LPA, HITS, both
  * PageRanks, random walks) stay plain folds: eager rounds would add a
  * job per round (LPA measured 0.7 s lazy against 4.2 s eager at sf0.1).
  */
object Rounds {

  /** Round `index` (from 1) took `prev` to `next`. */
  final case class Round[S](index: Int, prev: S, next: S)

  /** The last state, the rounds run, and whether the stop rule fired
    * (false when the budget ran out first).
    */
  final case class Result[S](state: S, rounds: Int, stopped: Boolean)

  def never[S]: Round[S] => Boolean = _ => false
  def ignore[S]: Round[S] => Unit = _ => ()

  /** The lineage cut a step applies to every frame it hands on. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint()

  def run[S](
      init: S,
      maxRounds: Int,
      stop: Round[S] => Boolean = never[S],
      onRound: Round[S] => Unit = ignore[S])(step: (S, Int) => S): Result[S] = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    @tailrec def go(state: S, done: Int): Result[S] =
      if (done == maxRounds) Result(state, done, stopped = false)
      else {
        val round = Round(done + 1, state, step(state, done + 1))
        onRound(round)
        val stopped = stop(round)
        release(state, round.next)
        if (stopped) Result(round.next, round.index, stopped = true)
        else go(round.next, round.index)
      }
    go(init, 0)
  }

  private def frames(state: Any): Iterator[Dataset[_]] = state match {
    case ds: Dataset[_] => Iterator(ds)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }

  /** Free the checkpoints `prev` holds that no frame of `next` reads. */
  private def release(prev: Any, next: Any): Unit = {
    val read = frames(next)
      .flatMap(_.queryExecution.analyzed.collectLeaves())
      .collect { case l: LogicalRDD => l.rdd.id }
      .toSet
    frames(prev).map(_.queryExecution.analyzed).foreach {
      case l: LogicalRDD if !read(l.rdd.id) => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }
}
