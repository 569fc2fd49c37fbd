package graft

import graft.operators.{HeavyHitters, Triangles, ZOrder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 operator semantics: degree-oriented triangle counting,
  * Misra–Gries exact heavy hitters (partitioning invariance — the whole
  * point of the two-phase contract), and Morton interleave vs a driver
  * reference.
  */
class GraphLayoutSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4")
  import spark.implicits._

  test("triangles: K4 minus an edge — exact participation counts") {
    // K4 on {1,2,3,4} without (3,4): triangles (1,2,3) and (1,2,4)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val got = Triangles
      .perNode(edges)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("triangles: triangle-free bipartite graph counts nothing") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("a", "b")
    assert(Triangles.perNode(edges).count() == 0L)
  }

  test("heavy hitters: exact under ANY partitioning, equals groupBy truth") {
    // Zipf-ish: token i appears 1000/i times, i in 1..200, capacity 20
    val rows = (1 to 200).flatMap(i => Seq.fill(1000 / i)(s"tok$i"))
    val df = rows.toDF("token")
    val truth = {
      val n = rows.size.toLong
      rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter { case (_, c) => c * 20L > n }
    }
    for (parts <- Seq(1, 3, 16)) {
      val got = HeavyHitters
        .exactOverThreshold(df.repartition(parts), 20)
        .select(col("item"), col("cnt"))
        .as[(String, Long)]
        .collect()
        .toMap
      assert(got == truth, s"at $parts partitions")
    }
  }

  test("heavy hitters: candidate phase never loses a true heavy hitter") {
    val rows = (1 to 50).flatMap(i => Seq.fill(200 / i)(s"t$i"))
    val df = rows.toDF("token").repartition(7)
    val n = rows.size.toLong
    val heavies = rows.groupBy(identity).collect {
      case (k, v) if v.size.toLong * 10L > n => k
    }.toSet
    val cands = HeavyHitters
      .exactOverThreshold(df, 10)
      .select("item")
      .as[String]
      .collect()
      .toSet
    assert(heavies.subsetOf(cands))
  }

  test("morton interleave matches a driver-side bit-loop reference") {
    def ref(x: Long, y: Long): Long =
      (0 until ZOrder.Bits).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.sum
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (10L, 6L), (65535L, 0L),
      (0L, 65535L), (65535L, 65535L), (43690L, 21845L))
    val got = pairs
      .toDF("x", "y")
      .select(ZOrder.interleaveCol(col("x"), col("y")).as("z"))
      .as[Long]
      .collect()
      .toSeq
    assert(got == pairs.map { case (x, y) => ref(x, y) })
  }

  test("bfs: hop counts on a path-plus-shortcut graph, frontier never revisits") {
    // 1-2-3-4-5 path plus shortcut 1-4: shortest hops from 1 are
    // {1:0, 2:1, 4:1, 3:2, 5:2} — the shortcut must win over the path
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = graft.operators.Bfs
      .hops(edges, seeds, 4)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
  }

  test("bfs: rounds bound truncates, disconnected nodes never appear") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = graft.operators.Bfs
      .hops(edges, Seq(1L).toDF("node"), 2)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // a zero budget returns the seed set itself
    val seedOnly = graft.operators.Bfs
      .hops(edges, Seq(1L).toDF("node"), 0)
      .as[(Long, Long)]
      .collect()
      .toMap
    assert(seedOnly == Map(1L -> 0L))
  }

  test("common neighbors per edge: K4 minus an edge") {
    // K4 on {1,2,3,4} without (3,4): edge (1,2) sits in both triangles
    // (common 3 and 4); the four outer edges each close one triangle
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("a", "b")
    val got = Triangles
      .commonNeighbors(edges)
      .as[(Long, Long, Long)]
      .collect()
      .map { case (a, b, c) => (a, b) -> c }
      .toMap
    assert(got == Map(
      (1L, 2L) -> 2L, (1L, 3L) -> 1L, (1L, 4L) -> 1L,
      (2L, 3L) -> 1L, (2L, 4L) -> 1L))
  }

  test("heavy hitters plan: corpus recount side joins via broadcast") {
    val df = (1 to 500).map(i => s"w${i % 7}").toDF("token")
    val plan = HeavyHitters
      .exactOverThreshold(df, 10)
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }
}
