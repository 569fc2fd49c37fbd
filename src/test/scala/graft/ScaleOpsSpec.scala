package graft

import graft.ml.FraudModel
import graft.operators.{Salting, TrainingSplit}
import graft.streaming.JsonIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** JSON stream codec round-trip, training-path transforms, MLlib scorer
  * behavioral contract, and salted-aggregation/join equivalence.
  */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4")
  import spark.implicits._

  test("json codec: encode -> base64 -> decode round-trips the payload (F6/F7)") {
    val src = Seq(
      (4444L, "merchantA", 12.34, "94110", 1700000000.0),
      (5555L, "merchantB", 999.99, "10001", 1700000060.5)
    ).toDF("cc_num", "merchant", "amount", "zip_code", "trans_ts")

    val wire = src.select(
      base64(JsonIngest.encode(
        $"cc_num", $"merchant", $"amount", $"zip_code", $"trans_ts").cast("binary")).as("payload"))

    val decoded = JsonIngest.decodeBase64(wire, col("payload"))
    assert(decoded.columns.toSeq == Seq("cc_num", "merchant", "amount", "zip_code", "trans_ts"))
    val rows = decoded.orderBy($"cc_num").collect()
    assert(rows(0).getLong(0) == 4444L && rows(0).getDouble(2) == 12.34)
    assert(rows(1).getString(3) == "10001" && rows(1).getDouble(4) == 1700000060.5)

    val ev = JsonIngest.toStreamEvents(decoded).orderBy($"userId").collect()
    assert(ev(0).getLong(1) == 1700000000000000L) // seconds -> micros
    assert(ev(0).getLong(2) == 1234L) // cents
  }

  test("training split: warm-up discarded, holdout disjoint, label-first projection") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val (train, test) = TrainingSplit.dateRangeSplit(
      events, col("ts"), "2024-01-10 00:00:00", "2024-01-25 00:00:00")
    val total = events.count()
    assert(train.count() + test.count() < total) // warm-up rows in neither
    assert(train.filter(col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp")).count() == 0)
    assert(test.filter(col("ts") < lit("2024-01-25 00:00:00").cast("timestamp")).count() == 0)

    val proj = TrainingSplit.labelFirst(
      events.withColumn("fraud_label", lit(0)), "fraud_label", Seq("value", "user_id"))
    assert(proj.columns.toSeq == Seq("fraud_label", "value", "user_id"))

    val (a, b) = TrainingSplit.randomSplit70_30(events)
    assert(a.count() + b.count() == total)
  }

  // synthesize labeled aggregates where fraud concentrates at high
  // count_ratio (the reference's planted-burst signature)
  private def labeledAggregates = (1 to 400).map { i =>
    val countRatio = (i % 40) / 100.0 // 0.00 .. 0.39
    val label = if (countRatio >= 0.25) 1.0 else 0.0
    (50.0 + i % 7, 1.0 + countRatio, 0.8, countRatio, label)
  }.toDF("amount", "amt_ratio1", "amt_ratio2", "count_ratio", "fraud_label")

  private def scorerProbe = Seq(
    (100.0, 1.3, 0.8, 0.30), // reference smoke: high count_ratio
    (100.0, 1.06, 0.8, 0.06) // low
  ).toDF("amount", "amt_ratio1", "amt_ratio2", "count_ratio")

  private def assertFlip(model: org.apache.spark.ml.Transformer): Unit = {
    val scored = FraudModel.score(model, scorerProbe).orderBy(desc("count_ratio")).collect()
    val (hi, lo) = (scored(0).getDouble(scored(0).fieldIndex("probability_fraud")),
      scored(1).getDouble(scored(1).fieldIndex("probability_fraud")))
    assert(hi > lo, s"expected monotone scorer: $hi vs $lo")
    assert(scored(0).getString(scored(0).fieldIndex("prediction_label")) == "FRAUD")
    assert(scored(1).getString(scored(1).fieldIndex("prediction_label")) == "NOT FRAUD")
  }

  test("MLlib scorer reproduces the reference behavioral flip on count_ratio") {
    assertFlip(FraudModel.train(labeledAggregates))
  }

  test("GBT scorer (the reference's XGBoost analog) reproduces the same flip") {
    assertFlip(FraudModel.trainGbt(labeledAggregates))
  }

  test("GBT at reference fidelity (100 rounds, matching num_round=100) still flips") {
    // the reference trains XGBoost with num_round=100
    // (/root/reference/notebooks/3_train_and_deploy_model.ipynb:182-188);
    // the default 25 is the fast in-engine retrain setting — this pins the
    // full-fidelity configuration too
    assertFlip(FraudModel.trainGbt(labeledAggregates, trees = 100))
  }

  test("hash sampling is partitioning-independent and rate-accurate (df.sample is neither)") {
    import graft.operators.Sampling
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select("event_id")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Sampling.bernoulli(df, "event_id", "s", "40000000").select("event_id").as[Long].collect().toSet
    val a = ids(ev)
    val b = ids(ev.repartition(7))
    val c = ids(ev.repartition(1).sortWithinPartitions(col("event_id").desc))
    assert(a == b && b == c, "the sample must not depend on partitioning or order")
    val n = ev.count().toDouble
    assert(math.abs(a.size / n - 0.25) < 0.05, s"rate off: ${a.size / n}")
    // join-stable: the same rows are picked when sampling a derived table
    val derived = ev.withColumn("x", col("event_id") * 2)
    val d = Sampling.bernoulli(derived, "event_id", "s", "40000000")
      .select("event_id").as[Long].collect().toSet
    assert(d == a, "same ids must survive in any table keyed by the same id")
  }

  test("binned range join equals the naive inequality join at any bin width") {
    import graft.operators.RangeJoin
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select(col("event_id"), col("ord_us"))
    val iv = ev
      .filter(pmod(col("event_id"), lit(50)) === 0)
      .select(
        col("event_id").as("interval_id"),
        col("ord_us").as("start_us"),
        (col("ord_us") + 1800L * 1000000L).as("end_us"))
    val naive = ev
      .join(iv, col("ord_us") >= col("start_us") && col("ord_us") < col("end_us"))
      .select("event_id", "interval_id")
      .as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty, "fixture must produce matches")
    // bin width is a pure tuning knob: results identical whether bins are
    // far smaller or far larger than the interval span
    for (binUs <- Seq(60L * 1000000L, 600L * 1000000L, 7200L * 1000000L)) {
      val binned = RangeJoin
        .binnedContains(ev, "ord_us", iv, "start_us", "end_us", binUs)
        .select("event_id", "interval_id")
        .as[(Long, Long)].collect().toSet
      assert(binned == naive, s"binUs=$binUs diverges from exact join")
    }
  }

  test("hash split partitions every row exactly once, stably across repartition") {
    import graft.operators.Sampling
    val ev = Tables.events(spark, "/root/testdata/sf0.001").select("event_id")
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select(
          col("event_id"),
          Sampling.splitLabel(
            "split", col("event_id"), Seq("train" -> "cc000000", "val" -> "e6000000"), "test"))
        .as[(Long, String)].collect().toMap
    val a = splits(ev)
    assert(a.size == ev.count(), "every row gets exactly one label")
    assert(a.values.toSet == Set("train", "val", "test"))
    val frac = a.values.groupBy(identity).view.mapValues(_.size / a.size.toDouble).toMap
    assert(math.abs(frac("train") - 0.796875) < 0.05, s"train fraction off: $frac")
    assert(splits(ev.repartition(13)) == a, "split must not depend on partitioning")
  }

  test("KMV sketch: exact for small groups, ~1/sqrt(k) error for large ones") {
    import graft.operators.Sketches
    // sf0.001 days hold < k distinct users -> the sketch IS the exact count
    val small = Tables.events(spark, "/root/testdata/sf0.001")
      .select(expr("ord_us div 86400000000").as("day"), col("user_id"))
    val smallRows = Sketches.kmvDistinct(small, "day", col("user_id"), 64, "kmv")
      .join(small.groupBy("day").agg(countDistinct(col("user_id")).as("nd")), Seq("day"))
      .select("m", "est_nd", "nd").as[(Long, Long, Long)].collect()
    assert(smallRows.nonEmpty && smallRows.forall { case (m, est, nd) => m < 64 && est == nd })
    // sf0.01 days hold > k -> estimator branch; deterministic data, so the
    // measured worst case (15.8%) is a stable bound well inside 3 sigma
    val big = Tables.events(spark, "/root/testdata/sf0.01")
      .select(expr("ord_us div 86400000000").as("day"), col("user_id"))
    val errs = Sketches.kmvDistinct(big, "day", col("user_id"), 64, "kmv")
      .join(big.groupBy("day").agg(countDistinct(col("user_id")).as("nd")), Seq("day"))
      .select("est_nd", "nd").as[(Long, Long)].collect()
      .map { case (est, nd) => math.abs(est - nd).toDouble / nd }
    assert(errs.nonEmpty && errs.max < 0.25, s"KMV error ${errs.max} out of band")
  }

  test("connected components: chains, disjoint clusters, and singletons all converge") {
    import graft.operators.Components
    // a 10-node chain (diameter 9 — forces several propagation rounds),
    // a triangle, and two singletons
    val edges = ((10L to 18L).map(i => (i, i + 1)) ++ Seq((30L, 31L), (31L, 32L), (30L, 32L)))
      .toDF("src", "dst")
    val nodes = ((10L to 19L) ++ Seq(30L, 31L, 32L, 77L, 99L)).toDF("id")
    val got = Components.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert((10L to 19L).forall(got(_) == 10L), s"chain not converged: $got")
    assert(Seq(30L, 31L, 32L).forall(got(_) == 30L))
    assert(got(77L) == 77L && got(99L) == 99L)
  }

  test("star-contraction components equal min-propagation and survive a 200-node chain") {
    import graft.operators.Components
    // the deep-chain case min-propagation cannot touch (needs 199 rounds);
    // maxIter=12 asserts the O(log^2 n)-rounds contract, not just
    // convergence — star must collapse diameter 199 in ~log rounds
    val chainEdges = (0L until 199L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainNodes = (0L to 200L).toDF("id") // 200 is a singleton
    val star = Components.connectedComponentsStar(chainNodes, chainEdges, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert((0L to 199L).forall(star(_) == 0L), "chain must collapse to root 0")
    assert(star(200L) == 200L)
    // equivalence with min-propagation on a multi-component mixed graph
    val edges = Seq((10L, 11L), (11L, 12L), (30L, 31L), (31L, 32L), (30L, 32L), (5L, 3L))
      .toDF("src", "dst")
    val nodes = (Seq(3L, 5L, 77L) ++ (10L to 12L) ++ (30L to 32L)).toDF("id")
    val a = Components.connectedComponents(nodes, edges).as[(Long, Long)].collect().toMap
    val b = Components.connectedComponentsStar(nodes, edges).as[(Long, Long)].collect().toMap
    assert(a == b, s"star and propagation disagree: $a vs $b")
  }

  test("auto-dispatched components: small graphs, and deep-chain fallback to star") {
    import graft.operators.Components
    assert(Components.PropagationMaxEdges == 100000L, "dispatch threshold pinned")
    // small + shallow: the propagation fast path must produce star's labels
    val edges = Seq((10L, 11L), (11L, 12L), (30L, 31L), (5L, 3L)).toDF("src", "dst")
    val nodes = (Seq(3L, 5L, 77L, 30L, 31L) ++ (10L to 12L)).toDF("id")
    val auto = Components.connectedComponentsAuto(nodes, edges).as[(Long, Long)].collect().toMap
    val star = Components.connectedComponentsStar(nodes, edges).as[(Long, Long)].collect().toMap
    assert(auto == star, s"auto and star disagree: $auto vs $star")
    // small but DEEP (diameter 60 > propagation's 25-round budget): the
    // fast path's non-convergence throw must fall back to star, not
    // surface — auto still labels the whole chain
    val chainEdges = (0L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainNodes = (0L to 60L).toDF("id")
    val deep = Components.connectedComponentsAuto(chainNodes, chainEdges)
      .as[(Long, Long)].collect().toMap
    assert((0L to 60L).forall(deep(_) == 0L), s"deep chain must fall back to star: $deep")
    // called directly, propagation still refuses the chain it cannot finish
    intercept[IllegalStateException] {
      Components.connectedComponents(chainNodes, chainEdges)
    }
    // above the threshold the dispatch goes straight to star (threshold 2
    // forces the branch on a 4-edge graph)
    val forced = Components.connectedComponentsAuto(nodes, edges, propagationMaxEdges = 2L)
      .as[(Long, Long)].collect().toMap
    assert(forced == star)
  }

  test("count-min sketch: never underestimates, partitioning-independent, bounded size") {
    import graft.operators.Sketches
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val sketch = Sketches.countMinSketch(ev, col("user_id"), col("cents"), 4, 256, "cm")
    assert(sketch.count() <= 4L * 256L, "sketch is depth*width counters, not data-sized")
    val est = Sketches
      .countMinEstimate(sketch, ev.select("user_id").distinct(), col("user_id"), "user_id", 4, 256, "cm")
    val exact = ev.groupBy(col("user_id")).agg(sum(col("cents")).as("ex"))
    val rows = est.join(exact, Seq("user_id"))
      .select("user_id", "cm_est", "ex").as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall { case (_, e, x) => e >= x },
      "CMS estimates are never below the exact total")
    // deterministic under any partitioning (integer sums + md5 buckets)
    val reparted = Sketches
      .countMinSketch(ev.repartition(13), col("user_id"), col("cents"), 4, 256, "cm")
      .as[(Int, Long, Long)].collect().toSet
    assert(reparted == sketch.as[(Int, Long, Long)].collect().toSet)
    // a probe key the sketch never saw estimates 0, not null/missing
    val unseen = Sketches.countMinEstimate(
      sketch, Seq(-12345L).toDF("user_id"), col("user_id"), "user_id", 4, 256, "unseen-seed")
      .as[(Long, Long)].collect()
    assert(unseen.forall(_._2 >= 0L))
  }

  test("group sample: exact per-group quota, stable across repartition") {
    val q = queries.FeatureQueries.groupSample(spark, "/root/testdata/sf0.001")
      .select("event_type", "rnk", "event_id").as[(String, Long, Long)].collect()
    val perGroup = q.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(perGroup.nonEmpty && perGroup.values.forall(r => r == (1L to r.size)),
      "ranks are a dense 1..k prefix per group")
    assert(perGroup.values.forall(_.size <= 20), "quota respected")
    val again = queries.FeatureQueries.groupSample(spark, "/root/testdata/sf0.001")
      .select("event_type", "rnk", "event_id").as[(String, Long, Long)].collect()
    assert(q.toSet == again.toSet, "the sample is a pure function of the data")
  }

  test("salted aggregation and join equal their unsalted counterparts") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("cents", round(col("value") * 100).cast("long"))

    val direct = events.groupBy(col("user_id"))
      .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Salting.saltedSumCount(events, Seq("user_id"), "cents", col("event_id"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)

    val dim = Seq((12L, "gold"), (13L, "silver")).toDF("user_id", "tier")
    val plain = events.join(dim, Seq("user_id")).select("event_id", "tier")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaSalt = Salting.saltedJoin(events, dim, "user_id", col("event_id"), 4)
      .select("event_id", "tier")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSalt == plain)
  }

  test("substring overlap pairs verbatim copies but not scattered phrase overlap") {
    import graft.operators.Dedup
    val run = (1 to 20).map(i => s"tok$i").mkString(" ") // a 20-token verbatim run
    val docs = Seq(
      // 1 and 2 share the 20-token run embedded in different contexts
      (1L, s"alpha beta $run gamma delta"),
      (2L, s"omega $run"),
      // 3 and 4 share every 3-gram of the run but never 15 consecutive
      // tokens: same phrases, scattered — high Jaccard, no verbatim copy
      (3L, (1 to 10).map(i => s"tok$i").mkString(" ") + " xx " +
        (8 to 20).map(i => s"tok$i").mkString(" ")),
      (4L, (1 to 10).map(i => s"tok$i").mkString(" ") + " yy " +
        (8 to 20).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.substringOverlapPairs(docs, "doc_id", "text", 15, 256L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "the embedded 20-token run must pair 1-2")
    assert(!pairs.contains((3L, 4L)), "scattered 3-gram overlap must NOT pair 3-4")
    // n_shared for the 20-token run = 6 distinct 15-gram windows
    val n = Dedup.substringOverlapPairs(docs, "doc_id", "text", 15, 256L)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .select("n_shared").as[Long].head()
    assert(n == 6L, s"20-token run holds 6 shared 15-grams, got $n")
  }

  test("salted top-k equals the one-window rank, including at the tie boundary") {
    import org.apache.spark.sql.expressions.Window
    // one hot key (10k rows incl. duplicate values at the cut) + one cold
    // key: the shape where a per-key window serializes into a single task
    val rows = (0L until 10000L).map(i => ("hot", i, i % 100)) ++
      (0L until 5L).map(i => ("cold", 100000L + i, i))
    val df = rows.toDF("k", "id", "v")
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id"))
    val direct = df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 7).select("k", "rnk", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val salted = Salting
      .saltedTopK(df, Seq("k"), Seq(col("v").desc, col("id")), 7, col("id"), 16)
      .select("k", "rnk", "id", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(salted == direct, "two-phase top-k must equal the single-window rank")
  }
}
