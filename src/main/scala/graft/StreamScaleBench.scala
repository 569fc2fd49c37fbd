package graft

import graft.streaming.{CusumProcessor, DecayProcessor, SessionProcessor, SessionTimerProcessor, StreamingSketch, TrailingAggProcessor}
import graft.streaming.StreamingAgg.StreamEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Scale harness for the STATEFUL STREAMING plane — the batch heavies get
  * 10×-data ratios in ScaleBench; this is the same discipline for the
  * three stateful operators whose 100 TB posture rests on state-size
  * claims:
  *
  *   - trailing  (TrailingAggProcessor, RocksDB ListState): per-key state
  *     is the horizon buffer — must stay FLAT per key as keys grow 10×
  *     (StateOperatorProgress counts ListState as one row per key; the
  *     per-key element count is horizon-bounded at [[EventsPerKey]] here,
  *     so the bytes-per-key column carries the flatness evidence);
  *   - cusum     (CusumProcessor, ValueState): exactly one (p, minP) row
  *     per key — state rows must equal key count at both scales;
  *   - sketch    (StreamingSketch complete-mode agg): state is CAPPED at
  *     the depth·width counter frame — touched slots grow toward the cap
  *     as keys grow, never past it, and never with events (that is the
  *     entire point of sketching a stream);
  *   - kmv       (StreamingKmv complete-mode agg): per-GROUP state is the
  *     O(k) hash lattice — state rows equal the (fixed, 100) group count
  *     at both scales while the entities per group grow 10×, the
  *     distinct-count analogue of the sketch cell's cap;
  *   - sessions  (SessionProcessor, ValueState): exactly one open-session
  *     row per key; the 30 s gap sits below the 60 s event spacing so
  *     EVERY arrival closes-and-emits — the emission-heavy path, where a
  *     per-emission regression would show directly in the rate ratio;
  *   - sessions_timer (SessionTimerProcessor, event-time mode): the same
  *     fold plus the watermark machinery under maximum churn — every
  *     arrival deletes the previous per-key timer and arms the next, so
  *     the cell prices the timer-state round-trips the TimeMode.None
  *     form avoids; per-key live timers stay at one by construction.
  *
  * Each cell replays a deterministic keyed event stream through a
  * MemoryStream in [[Chunks]] micro-batches (state must carry across
  * batch boundaries, same as the parity specs), at a small scale and at
  * 10× keys AND 10× events, with a fresh checkpoint per rep. Reported
  * per cell: median rows/s, state rows + bytes from the engine's own
  * StateOperatorProgress, and per-key state rows. Both scales run the
  * same [[Chunks]] micro-batch count, so the small scale's rate is
  * dominated by fixed per-batch overhead and rate_ratio lands ABOVE 1
  * (the overhead amortizes 10× better at the large scale); the signal
  * is a ratio that stays ≥ 1 — per-event cost that grew with key
  * cardinality (a state-lookup degradation) would drag it below — plus
  * the state columns, the flat-state evidence the r9 verdict asked for.
  *
  * Event shape: [[EventsPerKey]] events per key, one minute apart per
  * key, interleaved across keys in global event-time order (the T1
  * in-order contract), cents hash-drawn. The trailing horizon (10 min)
  * therefore holds all 10 per-key events at BOTH scales — per-key buffer
  * rows are expected flat at 10, not merely bounded.
  *
  * Run SEQUENTIALLY with Bench/ScaleBench (shared-machine load would
  * pollute rates); the quiesce gate below enforces that like ScaleBench.
  */
object StreamScaleBench {

  private val EventsPerKey = 10
  private val Chunks = 10
  private val StepUs = 60L * 1000000L // per-key event spacing: 1 minute

  /** Deterministic event stream: key j's i-th event at i·StepUs + j
    * (the +j offset keeps (ordUs) unique within a batch without
    * breaking per-key ascending order), cents from a hash draw.
    */
  private def events(keys: Long): IndexedSeq[StreamEvent] = {
    val n = keys * EventsPerKey
    (0L until n).map { id =>
      val round = id / keys // per-key sequence number (global time order)
      val key = id % keys
      val cents = math.floorMod(scala.util.hashing.MurmurHash3
        .stringHash(s"cents|$key|$round"), 10000).toLong
      StreamEvent(key, round * StepUs + key, cents)
    }
  }

  private case class Cell(
      rowsPerSec: Seq[Double],
      stateRows: Long,
      stateBytes: Long)

  /** Replay `evs` through `build(source)` in [[Chunks]] micro-batches
    * against a fresh checkpoint; return the feed-loop rate and the final
    * batch's state-operator totals.
    */
  private def runOnce(
      spark: SparkSession,
      evs: IndexedSeq[StreamEvent],
      outputMode: String)(
      build: MemoryStream[StreamEvent] => org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[StreamEvent] =
      org.apache.spark.sql.Encoders.product[StreamEvent]
    val source = MemoryStream[StreamEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("stream_scale_ckpt").toString
    val q: StreamingQuery = build(source).writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt)
      .format("noop")
      .start()
    try {
      val chunk = math.max(1, evs.size / Chunks)
      val t0 = System.nanoTime()
      evs.grouped(chunk).foreach { c =>
        source.addData(c)
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val st = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq)
        .headOption
      (evs.size / sec, st.map(_.numRowsTotal).getOrElse(-1L), st.map(_.memoryUsedBytes).getOrElse(-1L))
    } finally q.stop()
  }

  private def measure(
      spark: SparkSession,
      evs: IndexedSeq[StreamEvent],
      reps: Int,
      outputMode: String)(
      build: MemoryStream[StreamEvent] => org.apache.spark.sql.DataFrame): Cell = {
    val runs = (1 to reps).map(_ => runOnce(spark, evs, outputMode)(build))
    Cell(runs.map(_._1), runs.last._2, runs.last._3)
  }

  /** args: [smallKeys] [reps] [outPath]; large scale = 10× keys. */
  def main(args: Array[String]): Unit = {
    val smallKeys = if (args.length > 0) args(0).toLong else 10000L
    val reps = if (args.length > 1) args(1).toInt else 3
    val outPath = if (args.length > 2) args(2) else "/root/repo/STREAM_SCALE_r12.json"
    val largeKeys = smallKeys * 10L
    val spark = Sessions.local()
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    // same quiesce discipline as ScaleBench: don't start rates inside
    // another artifact's load tail
    var load = Bench.loadAvg()
    val tQ0 = System.nanoTime()
    while (load >= 4.0 && (System.nanoTime() - tQ0) / 1e9 < 300) {
      Thread.sleep(5000); load = Bench.loadAvg()
    }

    val ops: Seq[(String, String, MemoryStream[StreamEvent] => org.apache.spark.sql.DataFrame)] =
      Seq(
        ("trailing", "append", s => TrailingAggProcessor.trailingAgg(s.toDS()).toDF()),
        ("cusum", "append", s => CusumProcessor.cusum(s.toDS(), mu0 = 100L, slack = 10L).toDF()),
        // r11: the EWMA feature — O(window) day buckets per key
        ("decay", "append", s => DecayProcessor.decay(s.toDS()).toDF()),
        ("sessions", "append", s => SessionProcessor.sessions(s.toDS(), gapUs = 30L * 1000000L).toDF()),
        ("sessions_timer", "append", s =>
          SessionTimerProcessor.sessions(s.toDS(), gapUs = 30L * 1000000L).toDF()),
        ("sketch", "complete", s =>
          StreamingSketch.countMinStream(
            s.toDS().toDF(), col("userId"), col("cents"), depth = 5, width = 2048, seed = "ss")),
        // r11: the per-key KMV distinct monitor — O(k) hashes per group,
        // grouped to keys/100 so each sketch actually accumulates
        ("kmv", "complete", s =>
          graft.streaming.StreamingKmv.kmvDistinctStream(
            s.toDS().toDF(),
            org.apache.spark.sql.functions.pmod(col("userId"), org.apache.spark.sql.functions.lit(100L)),
            col("cents"), k = 32, seed = "kmvscale")),
        // r11 session 2: the Misra–Gries heavy-hitter monitor — O(capacity)
        // counters per shard, so state is FLAT in both stream length and
        // item-universe size (64 shards × 16 counters at any key count)
        ("heavy_hitters", "append", s =>
          graft.streaming.HeavyHittersProcessor
            .monitor(s.toDS(), shards = 64L, capacity = 16).toDF()),
        // r11 session 3: the bottom-k sample quantile monitor (k9's
        // aggregate) — O(k) (hash, value) pairs per group, same grouping
        // density as the kmv cell
        ("kmv_quantiles", "complete", s =>
          graft.streaming.StreamingKmv.kmvQuantilesStream(
            s.toDS().toDF(),
            org.apache.spark.sql.functions.pmod(col("userId"), org.apache.spark.sql.functions.lit(100L)),
            col("ordUs"), col("cents"), k = 32, seed = "kqscale")))

    val cellsJson = ops.map { case (name, mode, build) =>
      val smallEvs = events(smallKeys)
      val largeEvs = events(largeKeys)
      val sm = measure(spark, smallEvs, reps, mode)(build)
      val lg = measure(spark, largeEvs, reps, mode)(build)
      val rateRatio = Bench.median(lg.rowsPerSec) / Bench.median(sm.rowsPerSec)
      def perKey(rows: Long, keys: Long): Double =
        if (rows >= 0) math.round(rows.toDouble / keys * 100.0) / 100.0 else -1.0
      s""""$name":{"small_keys":$smallKeys,"large_keys":$largeKeys,""" +
        s""""small_events":${smallEvs.size},"large_events":${largeEvs.size},""" +
        s""""small_rows_per_sec":${Bench.median(sm.rowsPerSec).round},""" +
        s""""large_rows_per_sec":${Bench.median(lg.rowsPerSec).round},""" +
        s""""rate_ratio":${math.round(rateRatio * 100.0) / 100.0},""" +
        s""""small_runs":${sm.rowsPerSec.map(_.round).mkString("[", ",", "]")},""" +
        s""""large_runs":${lg.rowsPerSec.map(_.round).mkString("[", ",", "]")},""" +
        s""""small_state_rows":${sm.stateRows},"large_state_rows":${lg.stateRows},""" +
        s""""small_state_rows_per_key":${perKey(sm.stateRows, smallKeys)},""" +
        s""""large_state_rows_per_key":${perKey(lg.stateRows, largeKeys)},""" +
        s""""small_state_bytes":${sm.stateBytes},"large_state_bytes":${lg.stateBytes}}"""
    }

    val line =
      s"""{"metric":"stream_scale_10x","reps":$reps,"chunks":$Chunks,""" +
        s""""events_per_key":$EventsPerKey,"load_avg_start":$load,""" +
        s""""load_avg_end":${Bench.loadAvg()},""" +
        s""""operators":${cellsJson.mkString("{", ",", "}")}}"""
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
