package perfbench

import scala.collection.mutable

/** Raw measurements of one benchmark run, handed to `perfbench/run.py`.
  *
  * The JVM side only records samples; every statistic (medians, tail
  * percentiles, spreads) is computed once, in `perfbench/stats.py`. A
  * series is a list of samples; a grouped series also carries, per sample,
  * the id of the unit of work that produced it (a micro-batch or a job),
  * which the tail-percentile rule counts. Methods are synchronized because
  * stream sinks record from the query's thread.
  */
final class Report {
  private val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val groups = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted = 0L
  private var failed = 0L

  def add(name: String, v: Double): Unit = synchronized {
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def add(name: String, v: Double, group: Long): Unit = synchronized {
    add(name, v)
    groups.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += group
  }

  /** A series of exactly one sample. */
  def set(name: String, v: Double): Unit = synchronized {
    series(name) = mutable.ArrayBuffer(v)
  }

  /** Operations attempted and failed (jobs, events, calls). */
  def attempt(n: Long, failures: Long = 0L): Unit = synchronized {
    attempted += n
    failed += failures
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    System.err.println(s"[check] ${if (ok) "ok  " else "FAIL"} $name ${d}")
  }

  def correct: Boolean = synchronized { checks.nonEmpty && checks.forall(_._2) }

  def json: String = synchronized {
    def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks" -> arr(checks.map { case (n, ok, d) =>
        obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }),
      "series" -> obj(series.map { case (k, v) => k -> arr(v.map(Json.num)) }),
      "groups" -> obj(groups.map { case (k, v) => k -> arr(v.map(_.toString)) })))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
}
