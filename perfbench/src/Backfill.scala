package perfbench

import java.io.File

import scala.util.Random

import graft.datagen.TransactionGen
import graft.operators.{FeatureAggJob, LatestPerKey, TrailingWindows}
import graft.sources.Csv
import graft.store.OnlineFeatureStore
import graft.streaming.EnrichAndScore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max}

/** `backfill`: the reference's batch job, `FeatureAggJob.run`, closed loop,
  * one job at a time over a cached TransactionGen corpus.
  */
object Backfill {
  val Cards = 10000
  val Rows = 400000L
  /** Input generation passes per run; `setup_s` counts their median. */
  val SetupRepeats = 3
  val MinJobs = 3
  /** Unmeasured jobs first: job time keeps falling over the first four or
    * so, while the JIT compiles the job's paths.
    */
  val WarmupJobs = 4
  val SampledKeys = 16

  private val Key = "cc_num"
  private val Ts = "datetime"
  private val Amount = "amount"
  private val StoreFeatures = Seq("cnt_1w", "avg_1w")

  def corpus(ctx: Ctx): DataFrame =
    TransactionGen
      .transactions(ctx.spark, TransactionGen.Params(nCards = Cards, nTxns = Rows, seed = ctx.seed))
      .select(Key, Ts, Amount)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    var events: DataFrame = null
    var n = 0L
    ctx.phase("setup") {
      (1 to SetupRepeats).foreach { _ =>
        if (events != null) events.unpersist(blocking = true)
        r.add("setup.generate_s", ctx.timed {
          events = corpus(ctx).cache()
          n = events.count()
        }._1)
      }
    }

    def job(i: Int): (Double, OnlineFeatureStore, FeatureAggJob.Result, String) = {
      val store = new OnlineFeatureStore(StoreFeatures)
      val path = ctx.path(s"train-$i")
      val (s, res) = ctx.timed {
        ctx.call("FeatureAggJob.run", "operators") {
          FeatureAggJob.run(events, Key, Ts, Amount, store, Some(path))
        }
      }
      (s, store, res, path)
    }
    def release(res: FeatureAggJob.Result, path: String): Unit = {
      res.aggregates.unpersist(blocking = true)
      deleteTree(new File(path))
    }

    r.set("setup.warmup_s", ctx.phase("warmup") {
      (1 to WarmupJobs).map { i =>
        val (s, _, res, path) = job(-i)
        release(res, path)
        s
      }.sum
    })

    var last: (Double, OnlineFeatureStore, FeatureAggJob.Result, String) = null
    ctx.phase("measure") {
      val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
      var i = 1
      while (i <= MinJobs || System.nanoTime() < deadline) {
        if (last != null) release(last._3, last._4)
        last = job(i)
        r.attempt(1)
        r.add("latency_ms", last._1 * 1000.0, i.toLong)
        r.add("rows_per_s", n / last._1)
        i += 1
      }
    }

    val (_, store, res, path) = last
    if (ctx.traced) components(ctx, events, res, store)
    ctx.phase("check")(check(ctx, events, n, store, res, path))
    release(res, path)
    events.unpersist()
  }

  /** Traced run only: each component of the job called alone on the
    * cached corpus (and the last job's cached aggregates and store), and
    * the serving path that reads what the job wrote.
    */
  private def components(ctx: Ctx, events: DataFrame, res: FeatureAggJob.Result, store1w: OnlineFeatureStore): Unit =
    ctx.phase("components") {
      val r = ctx.report
      val spark = ctx.spark
      def time(metric: String, layer: String)(body: => Unit): Unit =
        r.set(metric, ctx.timed(ctx.call(metric.stripSuffix("_s"), layer)(body))._1)
      time("operators.TrailingWindows.aggregates_s", "operators") {
        Main.consume(TrailingWindows.aggregates(events, Key, Ts, Amount, Seq("10m" -> 600L, "1w" -> 604800L)))
      }
      val agg = res.aggregates
      time("operators.LatestPerKey.denseRankLatest_s", "operators") {
        Main.consume(LatestPerKey.denseRankLatest(agg, col(Key), TrailingWindows.ordMicros(col(Ts))))
      }
      val csvPath = ctx.path("train-component")
      time("sources.Csv.writeSingleFile_s", "sources") {
        Csv.writeSingleFile(
          agg.select(Key, Amount, "num_trans_last_10m", "avg_amt_last_10m", "num_trans_last_1w",
            "avg_amt_last_1w", "amt_ratio1", "amt_ratio2", "count_ratio"),
          csvPath)
      }
      deleteTree(new File(csvPath))
      val snapshot = res.snapshot.cache()
      snapshot.count()
      r.add("store.upsert_ms", 1000.0 * ctx.timed {
        ctx.call("OnlineFeatureStore.upsertBatch", "store") {
          new OnlineFeatureStore(StoreFeatures).upsertBatch(snapshot)
        }
      }._1)
      snapshot.unpersist()

      // Serving: score every corpus transaction against the snapshot of
      // the two feature groups (10-minute and 1-week), as of the corpus end.
      val store10m = new OnlineFeatureStore(Seq("cnt_10m", "avg_10m"))
      store10m.upsertBatch(
        LatestPerKey
          .denseRankLatest(agg, col(Key), TrailingWindows.ordMicros(col(Ts)))
          .select(
            col(Key).as("key"),
            TrailingWindows.ordMicros(col(Ts)).as("event_time_us"),
            col("num_trans_last_10m").cast("double").as("cnt_10m"),
            col("avg_amt_last_10m").as("avg_10m")))
      val serving = store10m
        .snapshot(spark)
        .join(store1w.snapshot(spark).drop("event_time_us"), Seq("key"), "left")
        .select(
          col("key"),
          col("event_time_us").as("snap_ts_us"),
          col("cnt_10m").as("cnt_short"),
          col("avg_10m").as("avg_short"),
          col("cnt_1w").as("cnt_long"),
          col("avg_1w").as("avg_long"))
        .cache()
      serving.count()
      val nowUs = events.agg(max(TrailingWindows.ordMicros(col(Ts)))).head().getLong(0)
      val scored = EnrichAndScore.scoreFrame(
        events.select(col(Key).as("key"), col(Amount)), serving, "key", Amount, lit(nowUs))
      time("streaming.EnrichAndScore.scoreFrame_s", "streaming")(Main.consume(scored))
      val fresh = scored.filter(col("amt_ratio1") =!= 0.0 || col("amt_ratio2") =!= 0.0 || col("count_ratio") =!= 0.0)
      r.set("serving.fresh_share", fresh.count().toDouble / events.count())
      serving.unpersist()

      val t = ctx.tracer.get
      t.quiesce()
      t.callStats("FeatureAggJob.run").drop(WarmupJobs).foreach(_.report(r))
      t.callStats("streaming.EnrichAndScore.scoreFrame").foreach(c => r.add("serving.broadcast_ms", c.broadcastMs))
    }

  private def check(
      ctx: Ctx,
      events: DataFrame,
      n: Long,
      store: OnlineFeatureStore,
      res: FeatureAggJob.Result,
      path: String): Unit = {
    val r = ctx.report
    val keys = events.select(Key).distinct().count()
    r.check("store holds one record per card", store.size == Cards && keys == Cards,
      s"store ${store.size}, corpus cards $keys, expected $Cards")

    val snap = res.snapshot.collect()
    val snapKeys = snap.map(_.getLong(0)).distinct
    val mismatched = snap.filterNot { row =>
      store.get(row.getLong(0)).exists { case (t, vs) =>
        t == row.getLong(1) && vs.sameElements(Seq(row.getDouble(2), row.getDouble(3)))
      }
    }
    r.check("store equals Result.snapshot",
      snapKeys.length == snap.length && snap.length == store.size && mismatched.isEmpty,
      s"${snap.length} snapshot rows, ${snapKeys.length} keys, store ${store.size}, " +
        s"${mismatched.length} mismatched, e.g. ${mismatched.headOption}")

    val parts = Option(new File(path).listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
    val csvRows =
      if (parts.length != 1) -1L
      else {
        val src = scala.io.Source.fromFile(parts.head)
        try src.getLines().size - 1L
        finally src.close()
      }
    r.check("training CSV is one file with one row per input row", csvRows == n,
      s"${parts.length} part files, $csvRows rows, expected $n")

    val sample = new Random(ctx.seed).shuffle(snapKeys.sorted.toSeq).take(SampledKeys)
    events.filter(col(Key).isin(sample: _*)).createOrReplaceTempView("backfill_sample")
    val expected = ctx.spark.sql(
      s"""SELECT $Key, t, cnt_1w, avg_1w FROM (
         |  SELECT $Key, unix_micros($Ts) AS t,
         |    COUNT(*) OVER w AS cnt_1w, AVG($Amount) OVER w AS avg_1w,
         |    MAX(unix_micros($Ts)) OVER (PARTITION BY $Key) AS last_t
         |  FROM backfill_sample
         |  WINDOW w AS (PARTITION BY $Key ORDER BY unix_micros($Ts)
         |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW))
         |WHERE t = last_t""".stripMargin).collect()
    val wrong = expected.filterNot { row =>
      store.get(row.getLong(0)).exists { case (t, vs) =>
        t == row.getLong(1) && vs(0) == row.getLong(2).toDouble &&
        math.abs(vs(1) - row.getDouble(3)) <= 1e-9 * math.abs(row.getDouble(3))
      }
    }
    r.check("sampled 1w features equal an independent RANGE-window query",
      expected.map(_.getLong(0)).distinct.length == sample.length && wrong.isEmpty,
      s"${expected.length} rows for ${sample.length} keys; mismatches ${wrong.take(3).mkString(", ")}")
  }
}
