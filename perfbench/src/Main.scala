package perfbench

import java.nio.file.{Files, Paths}

import graft.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}

/** What a workload needs: the session, where to record, and the run's
  * arguments. `call` and `phase` become spans only in the traced run.
  */
final class Ctx(
    var spark: SparkSession,
    val report: Report,
    val tracer: Option[Tracer],
    val seed: Long,
    val seconds: Double,
    val outDir: String,
    val cpus: Int) {

  /** A call into the program. A stream sink names its `batch` (query run
    * id, batch id) and `session`, the query's own, which runs the batch.
    */
  def call[T](name: String, layer: String, key: Long = -1L, batch: Option[(java.util.UUID, Long)] = None,
      session: Option[SparkSession] = None)(body: => T): T =
    tracer match {
      case Some(t) => t.call(session.getOrElse(spark), name, layer, key, batch)(body)
      case None => body
    }

  def phase[T](name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, "phase", isPhase = true)(body)
      case None => body
    }

  def traced: Boolean = tracer.isDefined

  /** Seconds `body` takes, with its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** A scratch path: `work/` under the output directory, which
    * `perfbench/run.py` deletes after the run.
    */
  def path(name: String): String = Paths.get(outDir, "work", name).toString
}

/** Entry point: `--workload <backfill|ingest> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir>`. Writes `raw.json` (and, traced,
  * `spans.jsonl`) into `--out`; `perfbench/run.py` turns them into metrics.
  */
object Main {

  /** Computes the full result of `df`: every column of every row is hashed
    * into one aggregate, so no column can be pruned away.
    */
  def consume(df: DataFrame): Unit = {
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)).as("h"))
      .agg(count(lit(1)), bit_xor(col("h")))
      .head()
    ()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Benchmark settings of a new session, and the traced run's listeners. */
  def prepare(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    // Progress of every micro-batch is read back after the run.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    tracer.foreach { t =>
      t.register(spark.sparkContext)
      spark.streams.addListener(t.streamListener)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val outDir = opts("out")
    Files.createDirectories(Paths.get(outDir))
    val report = new Report
    val tracer = if (opts("trace") == "1") Some(new Tracer) else None
    val cpus = Runtime.getRuntime.availableProcessors()
    val (sessionS, spark) = {
      val t0 = System.nanoTime()
      val s = Sessions.local(cpus.toString)
      ((System.nanoTime() - t0) / 1e9, s)
    }
    prepare(spark, tracer)
    report.set("session_s", sessionS)
    val ctx = new Ctx(spark, report, tracer, opts("seed").toLong, opts("seconds").toDouble, outDir, cpus)
    try {
      val run: Ctx => Unit = opts("workload") match {
        case "backfill" => Backfill.run
        case "ingest" => Ingest.run
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tracer match {
        case Some(t) => t.span(opts("workload"), "workload")(run(ctx))
        case None => run(ctx)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        report.check("workload completed", ok = false, e.toString)
    }
    tracer.foreach { t =>
      t.quiesce()
      Files.write(Paths.get(outDir, "spans.jsonl"),
        (t.spansJsonLines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    report.set("peak_rss_mb", peakRssMb())
    Files.write(Paths.get(outDir, "raw.json"), report.json.getBytes("UTF-8"))
    try ctx.spark.stop()
    finally System.exit(0)
  }
}
