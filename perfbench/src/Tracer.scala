package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch milliseconds with sub-millisecond resolution, on the same scale as
  * the times Spark's listener events carry.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(nanos: Long): Double = baseMs + (nanos - baseNs) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** One timed interval. `trace` is shared by a benchmark call and every
  * Spark job and stage it caused; `parent` is the enclosing span.
  */
final case class Span(
    id: String,
    parent: String,
    trace: String,
    name: String,
    layer: String,
    startMs: Double,
    endMs: Double,
    attrs: Map[String, Double]) {
  def json: String =
    Seq(
      "id" -> Json.str(id), "parent" -> Json.str(parent), "trace" -> Json.str(trace),
      "name" -> Json.str(name), "layer" -> Json.str(layer),
      "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs),
      "attrs" -> attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
      .map { case (k, v) => s"${Json.str(k)}:$v" }
      .mkString("{", ",", "}")
}

/** Task-level totals of the Spark work one benchmark call caused. */
final class CallStats(val id: String, val name: String, val key: Long) {
  var wallMs = 0.0
  var jobs = 0
  var broadcastJobs = 0
  var broadcastMs = 0.0
  var tasks = 0
  var runMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Double]

  /** Adds this call's totals to the per-call `spark.*` and `exchange.*` series. */
  def report(r: Report): Unit = {
    r.add("spark.wall_s", wallMs / 1000.0)
    r.add("spark.jobs", jobs)
    r.add("spark.tasks", tasks)
    r.add("spark.task_s", runMs / 1000.0)
    r.add("spark.gc_s", gcMs / 1000.0)
    r.add("exchange.shuffle_write_bytes", shuffleWriteBytes.toDouble)
    r.add("exchange.spill_bytes", spillBytes.toDouble)
    taskMs.foreach(t => r.add("spark.task_durations_s", t / 1000.0))
  }
}

/** Spans and Spark-side counts for the traced run, observed only through
  * Spark's public listener APIs.
  *
  * Benchmark-side spans nest through a per-thread stack: workload, phase,
  * call. A call also tags every Spark job it starts, which ties the job's
  * and its stages' spans to the call: a job tag is the additive form of a
  * job group, so it does not displace the group a streaming query sets on
  * its own thread. SQL executions carry the session's tags
  * (`SparkSession.addTag`), other jobs the thread's (`addJobTag`). Stream
  * batches arrive through a [[StreamingQueryListener]]; their `durationMs`
  * phases become child spans laid out in execution order, and a sink call
  * made inside a batch is a child of its `addBatch` phase. A call, the
  * calls inside it, and their jobs and stages share one trace id; so do a
  * batch, its phases and its sink calls. Spans stay in memory until
  * [[spansJsonLines]] is called at the end of the run.
  */
final class Tracer extends SparkListener {
  private val TagPrefix = "perfbench-"
  private val ids = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  // (span id, trace id of the enclosing call or "" outside calls)
  private val stack = new ThreadLocal[List[(String, String)]] { override def initialValue = Nil }
  @volatile private var phase = "root"

  private case class Job(call: Option[String], startMs: Double, broadcast: Boolean)
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val calls = mutable.LinkedHashMap.empty[String, CallStats]
  private val callTrace = mutable.HashMap.empty[String, String]
  @volatile private var lastEventNs = System.nanoTime()
  private var pendingJobs = 0
  // Job and stage ids restart with each SparkContext; span ids carry this.
  private var contextSeq = 0

  def register(sc: SparkContext): Unit = {
    synchronized {
      contextSeq += 1
      jobs.clear()
      stageJob.clear()
    }
    sc.addSparkListener(this)
  }

  private def record(s: Span): Unit = synchronized { spans += s }

  /** A benchmark-side span around `body`; `isPhase` makes it the parent of
    * jobs and stream batches that no call claims.
    */
  def span[T](name: String, layer: String, isPhase: Boolean = false)(body: => T): T = {
    val id = s"s${ids.incrementAndGet()}"
    val parent = stack.get.headOption.map(_._1).getOrElse("")
    val prevPhase = phase
    if (isPhase) phase = id
    stack.set((id, "") :: stack.get)
    val t0 = Clock.nowMs
    try body
    finally {
      stack.set(stack.get.tail)
      if (isPhase) phase = prevPhase
      record(Span(id, parent, id, name, layer, t0, Clock.nowMs, Map.empty))
    }
  }

  /** A call into the program: a span whose Spark jobs are tagged with its
    * id. `key` labels the call's [[CallStats]], e.g. with a batch id;
    * `batch` (query run id, batch id) places a sink call inside its batch.
    */
  def call[T](session: SparkSession, name: String, layer: String, key: Long, batch: Option[(java.util.UUID, Long)])(
      body: => T): T = {
    val id = s"s${ids.incrementAndGet()}"
    val enclosing = stack.get.headOption
    val (parentId, trace) = batch match {
      case Some((run, b)) => (Tracer.batchSpanId(run, b) + ".addBatch", Tracer.batchSpanId(run, b))
      case None => (enclosing.map(_._1).getOrElse(""), enclosing.map(_._2).filter(_.nonEmpty).getOrElse(id))
    }
    val stats = new CallStats(id, name, key)
    synchronized {
      calls(id) = stats
      callTrace(id) = trace
    }
    val tag = TagPrefix + id
    session.addTag(tag)
    session.sparkContext.addJobTag(tag)
    stack.set((id, trace) :: stack.get)
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      stack.set(stack.get.tail)
      session.sparkContext.removeJobTag(tag)
      session.removeTag(tag)
      synchronized { stats.wallMs = t1 - t0 }
      record(Span(id, parentId, trace, name, layer, t0, t1, Map.empty))
    }
  }

  /** Calls recorded so far whose name is `name`, in call order. */
  def callStats(name: String): Seq[CallStats] = synchronized {
    calls.values.filter(_.name == name).toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
    // The innermost of nested calls is the most recently opened one.
    val call = tags.split(",").filter(_.contains(TagPrefix)).map(t => t.substring(t.indexOf(TagPrefix) + TagPrefix.length))
      .maxByOption(_.drop(1).toLong)
    // A broadcast exchange tags (or, in older releases, describes) its job.
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val broadcast = (tags + desc).toLowerCase.contains("broadcast exchange")
    jobs(e.jobId) = Job(call, e.time.toDouble, broadcast)
    pendingJobs += 1
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    pendingJobs -= 1
    jobs.get(e.jobId).foreach { j =>
      val (parent, trace) = j.call.flatMap(c => callTrace.get(c).map(c -> _)).getOrElse((phase, phase))
      val bc = j.broadcast
      j.call.flatMap(calls.get).foreach { c =>
        c.jobs += 1
        if (bc) { c.broadcastJobs += 1; c.broadcastMs += e.time - j.startMs }
      }
      spans += Span(s"j$contextSeq.${e.jobId}", parent, trace, s"job ${e.jobId}", "spark.job",
        j.startMs, e.time.toDouble, Map("broadcast" -> (if (bc) 1.0 else 0.0)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val info = e.stageInfo
    val job = stageJob.get(info.stageId)
    val trace = job.flatMap(jobs.get).flatMap(_.call).flatMap(callTrace.get).getOrElse(phase)
    val m = Option(info.taskMetrics)
    spans += Span(
      s"st$contextSeq.${info.stageId}.${info.attemptNumber()}",
      job.map(j => s"j$contextSeq.$j").getOrElse(phase),
      trace,
      info.name,
      "spark.stage",
      info.submissionTime.getOrElse(0L).toDouble,
      info.completionTime.getOrElse(0L).toDouble,
      Map(
        "tasks" -> info.numTasks.toDouble,
        "run_ms" -> m.map(_.executorRunTime.toDouble).getOrElse(0.0),
        "gc_ms" -> m.map(_.jvmGCTime.toDouble).getOrElse(0.0),
        "shuffle_write_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten.toDouble).getOrElse(0.0),
        "shuffle_read_bytes" -> m.map(_.shuffleReadMetrics.totalBytesRead.toDouble).getOrElse(0.0),
        "spill_bytes" -> m.map(x => (x.memoryBytesSpilled + x.diskBytesSpilled).toDouble).getOrElse(0.0)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    for {
      j <- stageJob.get(e.stageId)
      call <- jobs.get(j).flatMap(_.call)
      c <- calls.get(call)
    } {
      c.tasks += 1
      c.taskMs += e.taskInfo.duration.toDouble
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Stream batches as spans: the batch, then its `durationMs` phases. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val id = Tracer.batchSpanId(p.runId, p.batchId)
        val total = Option(d.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
        val parent = phase
        val children = Tracer.PhaseOrder.filter(d.containsKey).scanLeft(("", startMs, startMs)) {
          case ((_, _, t), name) => (name, t, t + d.get(name).toDouble)
        }.tail
        synchronized {
          spans += Span(id, parent, id, s"batch ${p.batchId}", "microbatch", startMs, startMs + total,
            Map("rows" -> p.numInputRows.toDouble))
          children.foreach { case (name, s, t) =>
            spans += Span(s"$id.$name", id, id, name, "microbatch", s, t, Map.empty)
          }
        }
      }
    }
  }

  /** Wait until the listener bus has delivered every job and task end. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 15L * 1000000000L
    while (System.nanoTime() < deadline &&
        (synchronized(pendingJobs) > 0 || System.nanoTime() - lastEventNs < 300L * 1000000L))
      Thread.sleep(50)
  }

  def spansJsonLines: Iterator[String] = synchronized(spans.toList).iterator.map(_.json)
}

object Tracer {

  /** `durationMs` phases in the order a micro-batch runs them. */
  val PhaseOrder: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  /** Span id of one micro-batch, also the trace id of everything in it. */
  def batchSpanId(runId: java.util.UUID, batchId: Long): String =
    s"b${runId.toString.take(8)}.$batchId"
}
