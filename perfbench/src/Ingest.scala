package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import graft.Sessions
import graft.datagen.TransactionGen
import graft.operators.TrailingWindows
import graft.store.OnlineFeatureStore
import graft.streaming.StreamingAgg
import graft.streaming.StreamingAgg.{AggEmit, StreamEvent}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Appends events to a MemoryStream and remembers which source offset each
  * event got, so progress offsets map events to micro-batches.
  */
final class Feeder(source: MemoryStream[StreamEvent], events: IndexedSeq[StreamEvent]) {
  private val offsets = mutable.ArrayBuffer.empty[Long]
  private val firsts = mutable.ArrayBuffer.empty[Int]
  @volatile var next = 0

  def send(n: Int): Unit = {
    val o = source.addData(events.slice(next, next + n)).json().toLong
    synchronized {
      offsets += o
      firsts += next
    }
    next += n
  }

  /** Source offset of event `idx` (events sent in one call share one). */
  def offsetOf(idx: Int): Long = synchronized {
    var lo = 0
    var hi = firsts.size - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (firsts(mid) <= idx) lo = mid else hi = mid - 1
    }
    offsets(lo)
  }

  /** Open loop: the next `count` events, event k due at `startNs + k/rate`.
    * A single generator thread sends every event as soon as it is due and
    * never waits on the query; its lateness is reported, and latency is
    * taken from the due time, so a stall is charged to queued events.
    */
  def openLoop(count: Int, rate: Double): Schedule = {
    val first = next
    val startNs = System.nanoTime() + 20L * 1000000L
    def dueNs(k: Int): Long = startNs + (k * 1e9 / rate).toLong
    var lateMaxMs = 0.0
    val gen = new Thread(() => {
      var k = 0
      while (k < count) {
        val now = System.nanoTime()
        val dueCount = if (now < startNs) 0 else math.min(count, ((now - startNs) * rate / 1e9).toInt + 1)
        if (dueCount > k) {
          send(dueCount - k)
          lateMaxMs = math.max(lateMaxMs, (System.nanoTime() - dueNs(k)) / 1e6)
          k = dueCount
        } else LockSupport.parkNanos(dueNs(k) - now)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    Schedule(first, count, next - first, lateMaxMs, dueNs)
  }
}

final case class Schedule(first: Int, due: Int, sent: Int, lateMaxMs: Double, dueNs: Int => Long)

/** One micro-batch as its progress reports it. */
final case class Batch(p: StreamingQueryProgress) {
  def id: Long = p.batchId
  def endOffset: Long = p.sources.head.endOffset.toLong
  def ms(phase: String): Double = Option(p.durationMs.get(phase)).map(_.toDouble).getOrElse(0.0)
}

/** `ingest`: card transactions at the reference's one-shard rate, open
  * loop, through `StreamingAgg.trailingAgg` into an `OnlineFeatureStore`,
  * then a closed-loop drain.
  */
object Ingest {
  val Rate = 1000.0
  val Cards = 10000
  /** Seconds of history replayed before timing: the 10-minute horizon. */
  val HistorySeconds = 600
  val HistoryChunk = 150000
  /** Open-loop seconds before timing: batch time keeps falling for about
    * this long after the history replay, while the JIT compiles.
    */
  val WarmSeconds = 6.0
  val DrainBatches = 10
  val DrainBatchEvents = 10000
  /** Input generation passes per run; `setup_s` counts their median. */
  val SetupRepeats = 3
  /** Stream event time starts where TransactionGen's default corpus ends. */
  val StreamStartSec = 1590969600L

  private implicit val enc: Encoder[StreamEvent] = Encoders.product[StreamEvent]

  /** `n` TransactionGen transactions at `Rate` per second of event time.
    * Fraud chains are off: their offsets assume a corpus spanning more than
    * 25 minutes.
    */
  def events(spark: SparkSession, seed: Long, n: Int): Dataset[StreamEvent] =
    TransactionGen
      .transactions(spark, TransactionGen.Params(
        nCards = Cards, nTxns = n.toLong, startEpochSec = StreamStartSec,
        endEpochSec = StreamStartSec + math.ceil(n / Rate).toLong, fraudRate = 0.0, seed = seed))
      .select(
        col("cc_num").as("userId"),
        unix_micros(col("datetime")).as("ordUs"),
        round(col("amount") * 100).cast("long").as("cents"))
      .as[StreamEvent]

  /** Micro-batches with input, in batch order, from the query's progress. */
  private def batches(q: StreamingQuery): IndexedSeq[Batch] =
    q.recentProgress.filter(_.numInputRows > 0).map(Batch).groupBy(_.id).values.map(_.last)
      .toIndexedSeq.sortBy(_.id)

  /** Per-batch phases and state-store figures of `bs` under `prefix`. */
  private def recordBatches(r: Report, prefix: String, bs: Seq[Batch]): Unit = {
    bs.foreach { b =>
      r.add(s"${prefix}microbatch.rows", b.p.numInputRows.toDouble)
      r.add(s"${prefix}microbatch.trigger_ms", b.ms("triggerExecution"))
      r.add(s"${prefix}microbatch.planning_ms", b.ms("queryPlanning"))
      r.add(s"${prefix}microbatch.wal_ms", b.ms("walCommit"))
      r.add(s"${prefix}microbatch.commit_offsets_ms", b.ms("commitOffsets"))
      r.add(s"${prefix}microbatch.add_batch_ms", b.ms("addBatch"))
    }
    r.set(s"${prefix}microbatch.batches", bs.size)
    val ops = bs.flatMap(_.p.stateOperators.headOption)
    ops.foreach { s =>
      r.add(s"${prefix}state.commit_ms", s.commitTimeMs.toDouble)
      r.add(s"${prefix}state.rows_updated", s.numRowsUpdated.toDouble)
    }
    ops.lastOption.foreach { s =>
      r.set(s"${prefix}state.rows_total", s.numRowsTotal.toDouble)
      r.set(s"${prefix}state.memory_bytes", s.memoryUsedBytes.toDouble)
      r.set(s"${prefix}state.partitions", s.numShufflePartitions.toDouble)
    }
    // commitTimeMs sums the partitions' commits, which may overlap in time.
    val trigger = bs.map(_.ms("triggerExecution")).sum
    if (trigger > 0) r.set(s"${prefix}state.commit_share", ops.map(_.commitTimeMs.toDouble).sum / trigger)
  }

  /** The reference's StreamingIngestAggFeatures shape: trailing 10-minute
    * aggregate per event, every emission upserted into the online store.
    * The sink runs one action per batch, so the stateful plan runs once.
    * `sinkEnd` receives each batch's sink return time.
    */
  private def start(
      ctx: Ctx,
      source: MemoryStream[StreamEvent],
      store: OnlineFeatureStore,
      sinkEnd: mutable.Map[Long, Long],
      checkpoint: String): StreamingQuery = {
    var runId: java.util.UUID = null
    val sink: (Dataset[AggEmit], Long) => Unit = (ds, batchId) => {
      val session = Some(ds.sparkSession)
      ctx.call("foreachBatch", "sink", batchId, Option(runId).map(_ -> batchId), session) {
        ctx.call("OnlineFeatureStore.upsertBatch", "store", batchId, session = session) {
          store.upsertBatch(ds.select(
            col("userId").as("key"),
            col("ordUs").as("event_time_us"),
            col("cnt").cast("double").as("cnt_10m"),
            col("avgAmount").as("avg_10m")))
        }
      }
      sinkEnd.synchronized(sinkEnd(batchId) = System.nanoTime())
    }
    val q = StreamingAgg
      .trailingAgg(source.toDS())
      .observe("emits", count(lit(1)))
      .writeStream
      .option("checkpointLocation", ctx.path(checkpoint))
      .foreachBatch(sink)
      .start()
    runId = q.runId
    q
  }

  private def replayHistory(feeder: Feeder, q: StreamingQuery, history: Int): Unit =
    while (feeder.next < history) {
      feeder.send(math.min(HistoryChunk, history - feeder.next))
      q.processAllAvailable()
    }

  /** Closed loop: fixed-size batches, each sent once the previous is done. */
  private def drain(feeder: Feeder, q: StreamingQuery, r: Report, metric: String): Unit =
    (1 to DrainBatches).foreach { _ =>
      val t0 = System.nanoTime()
      feeder.send(DrainBatchEvents)
      q.processAllAvailable()
      r.add(metric, DrainBatchEvents / ((System.nanoTime() - t0) / 1e9))
    }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val history = HistorySeconds * Rate.toInt
    val warm = (WarmSeconds * Rate).toInt
    val n = history + warm + (ctx.seconds * Rate).toInt + DrainBatches * DrainBatchEvents
    val events = ctx.phase("setup") {
      (1 to SetupRepeats).map { _ =>
        val (s, evs) = ctx.timed(Ingest.events(ctx.spark, ctx.seed, n).collect().toIndexedSeq)
        r.add("setup.generate_s", s)
        evs
      }.last
    }
    val store = new OnlineFeatureStore(Seq("cnt_10m", "avg_10m"))
    val source = MemoryStream[StreamEvent](ctx.spark, ctx.cpus)
    val feeder = new Feeder(source, events)
    val sinkEnd = mutable.Map.empty[Long, Long]
    val q = start(ctx, source, store, sinkEnd, "checkpoint")
    r.set("setup.warmup_s", ctx.phase("warmup") {
      ctx.timed {
        replayHistory(feeder, q, history)
        feeder.openLoop(warm, Rate)
        q.processAllAvailable()
      }._1
    })

    val sched = ctx.phase("open_loop") {
      val s = feeder.openLoop((ctx.seconds * Rate).toInt, Rate)
      q.processAllAvailable()
      s
    }
    r.set("gen.late_ms_max", sched.lateMaxMs)
    r.set("gen.events_due", sched.due)
    r.set("gen.events_sent", sched.sent)
    ctx.phase("drain")(drain(feeder, q, r, "rows_per_s"))
    q.stop()

    // Each open-loop event's freshness: due time to the return of the sink
    // call of the batch whose offsets cover it.
    val bs = batches(q)
    val ends = bs.map(_.endOffset)
    val measured = mutable.LinkedHashSet.empty[Batch]
    var lost = 0L
    (0 until sched.sent).foreach { k =>
      val b = bs(ends.indexWhere(_ >= feeder.offsetOf(sched.first + k)))
      sinkEnd.get(b.id) match {
        case Some(end) =>
          val ms = (end - sched.dueNs(k)) / 1e6
          r.add("latency_ms", ms, b.id)
          r.add("queue.wait_ms", ms - b.ms("triggerExecution"), b.id)
          measured += b
        case None => lost += 1
      }
    }
    r.attempt(feeder.next.toLong, lost)
    recordBatches(r, "", measured.toSeq)
    val measuredIds = measured.map(_.id).toSet
    ctx.tracer.foreach { t =>
      t.quiesce()
      // The store call is the innermost, so the batch's Spark jobs are its.
      t.callStats("OnlineFeatureStore.upsertBatch").filter(c => measuredIds(c.key)).foreach { c =>
        r.add("store.upsert_ms", c.wallMs)
        c.report(r)
      }
    }

    ctx.phase("check") {
      val sent = feeder.next
      val inputRows = bs.map(_.p.numInputRows).sum
      val emits = bs.map(b => Option(b.p.observedMetrics.get("emits")).map(_.getLong(0)).getOrElse(0L)).sum
      r.check("every event read and emitted exactly once", inputRows == sent && emits == sent && sent == n,
        s"generated $n, sent $sent, input rows $inputRows, emissions $emits")
      checkStore(ctx, Ingest.events(ctx.spark, ctx.seed, n), store)
    }
    if (ctx.traced) oneCore(ctx, events, history)
  }

  /** The store equals `TrailingWindows.aggregates` at each key's last
    * event, the batch≡stream contract StreamingAgg documents.
    */
  private def checkStore(ctx: Ctx, sent: Dataset[StreamEvent], store: OnlineFeatureStore): Unit = {
    val df = sent.withColumn("ts", timestamp_micros(col("ordUs")))
    val expected = TrailingWindows
      .aggregates(df, "userId", "ts", "cents", Seq("10m" -> 600L))
      .withColumn("last", max(col("ordUs")).over(Window.partitionBy(col("userId"))))
      .filter(col("ordUs") === col("last"))
      .select(col("userId"), col("ordUs"), col("cnt_10m"), col("sum_10m"))
      .distinct()
      .collect()
    val wrong = expected.filterNot { row =>
      val cnt = row.getLong(2)
      val sum = row.getLong(3)
      store.get(row.getLong(0)).exists { case (t, vs) =>
        t == row.getLong(1) && vs(0) == cnt.toDouble && vs(1) == sum.toDouble / cnt / 100.0
      }
    }
    ctx.report.check("final store equals TrailingWindows.aggregates at each key's last event",
      expected.length == store.size && expected.map(_.getLong(0)).distinct.length == expected.length && wrong.isEmpty,
      s"${expected.length} expected rows, store ${store.size}, ${wrong.length} wrong, e.g. ${wrong.headOption}")
  }

  /** Traced run only: the drain phase again on a one-core session
    * (`local[1]`, so one state partition), after the same history replay.
    */
  private def oneCore(ctx: Ctx, events: IndexedSeq[StreamEvent], history: Int): Unit = {
    ctx.spark.stop()
    val spark = Sessions.local("1")
    ctx.spark = spark
    Main.prepare(spark, ctx.tracer)
    ctx.phase("onecore") {
      val source = MemoryStream[StreamEvent](spark, 1)
      val feeder = new Feeder(source, events)
      val q = start(ctx, source, new OnlineFeatureStore(Seq("cnt_10m", "avg_10m")), mutable.Map.empty,
        "checkpoint-onecore")
      replayHistory(feeder, q, history)
      drain(feeder, q, ctx.report, "onecore.drain_eps")
      q.stop()
      recordBatches(ctx.report, "onecore.", batches(q).takeRight(DrainBatches))
    }
  }
}
