package graft

import graft.operators.{Bfs, Components}
import graft.queries.RelationalQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Storage of the bounded-round loops is flat in the round count: every
  * superseded round's checkpoint is freed as the next one materializes,
  * and the invariant edge frames are released when the call returns. Each
  * loop runs at budgets r and 2r from a clean cache; the persistent RDDs
  * the call leaves behind must be the same count, and the output must be
  * the known answer.
  */
class RoundsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4")
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Run `body` (which must force its output) from an empty plan cache;
    * return its output and the number of RDDs it persisted and never
    * unpersisted, then free them. SparkContext holds persistent RDDs
    * weakly, so a leaked round that became garbage would drop out of
    * `getPersistentRDDs` at the next GC while its blocks wait for the
    * ContextCleaner; a poller pins every new one as it appears, so the
    * count does not depend on GC timing.
    */
  private def leftBehind[T](body: => T): (T, Int) = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = new java.util.concurrent.ConcurrentHashMap[Int, org.apache.spark.rdd.RDD[_]]()
    def pin(): Unit = sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) pinned.putIfAbsent(id, rdd)
    }
    @volatile var running = true
    val poller = new Thread(() => while (running) { pin(); Thread.sleep(1) })
    poller.setDaemon(true)
    poller.start()
    val out =
      try body
      finally {
        running = false
        poller.join()
      }
    pin()
    val left = pinned.values.asScala.filter(_.getStorageLevel != StorageLevel.NONE).toSeq
    left.foreach(_.unpersist(blocking = true))
    (out, left.size)
  }

  /** Both budgets leave the same storage; returns the two outputs. */
  private def flat[T](name: String, r: Int)(run: Int => T): (T, T) = {
    val (short, leftShort) = leftBehind(run(r))
    val (long, leftLong) = leftBehind(run(2 * r))
    info(s"$name: $leftShort persistent RDDs left at $r rounds, $leftLong at ${2 * r}")
    assert(leftShort == leftLong,
      s"$name leaves storage that grows with rounds: $leftShort at $r, $leftLong at ${2 * r}")
    (short, long)
  }

  // an undirected chain 0-1-...-(n-1)
  private def chain(n: Long) = {
    val und = (0L until n - 1).map(i => (i, i + 1))
    (und ++ und.map(_.swap)).toDF("src", "dst")
  }

  test("BFS frontiers: storage flat in rounds, hops exact on a chain") {
    val edges = chain(40)
    val (short, long) = flat("hops", 3) { r =>
      Bfs.hops(edges, Seq(0L).toDF("node"), r).as[(Long, Long)].collect().toMap
    }
    assert(short == (0L to 3L).map(i => i -> i).toMap)
    assert(long == (0L to 6L).map(i => i -> i).toMap)

    val sources = Seq(0L, 39L).toDF("source")
    val (mShort, mLong) = flat("multiHops", 3) { r =>
      Bfs.multiHops(edges, sources, r).as[(Long, Long, Long)].collect().toSet
    }
    def within(r: Long) = (0L to r).flatMap(d => Seq((0L, d, d), (39L, 39L - d, d))).toSet
    assert(mShort == within(3) && mLong == within(6))

    val weighted = edges.withColumn("w", lit(2L))
    val (wShort, wLong) = flat("weightedHops", 3) { r =>
      Bfs.weightedHops(weighted, Seq(0L).toDF("node"), r).as[(Long, Long)].collect().toMap
    }
    assert(wShort == (0L to 3L).map(i => i -> 2 * i).toMap)
    assert(wLong == (0L to 6L).map(i => i -> 2 * i).toMap)
  }

  test("star components: storage flat in the round budget, chain collapses to its root") {
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (0L to 60L).toDF("id")
    val (short, long) = flat("connectedComponentsStar", 12) { r =>
      Components.connectedComponentsStar(nodes, edges, maxIter = r)
        .as[(Long, Long)].collect().toMap
    }
    assert(short == long)
    assert((0L to 59L).forall(short(_) == 0L) && short(60L) == 60L)
  }

  test("g20 and g19 loops at sf0.001: storage flat in rounds, outputs unchanged") {
    // both budgets reach the fixpoint (3 rounds for g20, 4 for g19), so
    // the extra rounds must change neither the output nor the storage
    val (cShort, cLong) = flat("componentRounds", 4) { r =>
      val run = RelationalQueries.componentRounds(spark, sf, maxRounds = r)
      assert(run.rounds == r && !run.stopped)
      run.state.as[(Long, Long)].collect().toMap
    }
    assert(cShort.nonEmpty && cShort == cLong)

    val (mShort, mLong) = flat("misWinners", 4) { r =>
      val run = RelationalQueries.misWinners(spark, sf, maxRounds = r)
      assert(run.rounds == r)
      run.state.as[(Long, Long)].collect().toSet
    }
    assert(mShort.nonEmpty && mShort == mLong)
    // the gate's bounded output is the prefix of the same loop
    val gate = RelationalQueries.maximalIndependentSet(spark, sf)
      .as[(Long, Long)].collect().toSet
    assert(gate == mShort.filter(_._2 <= gate.map(_._2).max))
  }

  test("the driver never frees a checkpoint a successor still reads") {
    // the state carries a lazy union over every round, so no round's
    // checkpoint may be freed before the caller's action reads it
    val (rows, _) = leftBehind {
      val seed = Rounds.checkpoint(spark.range(1).toDF("x"))
      val run = Rounds.run[(DataFrame, DataFrame)]((seed, seed), 5, stop = _.index == 4) { case ((cur, acc), _) =>
        val next = Rounds.checkpoint(cur.select((col("x") + 1).as("x")))
        (next, acc.unionAll(next))
      }
      assert(run.rounds == 4 && run.stopped)
      run.state._2.as[Long].collect().sorted.toSeq
    }
    assert(rows == (0L to 4L))
  }
}
