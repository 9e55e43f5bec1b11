package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Span arithmetic over traced executions. A query's spans are its root
  * (`query`); the driver-side spans `build`, `schema.generate`,
  * `schema.rewrite` and `execute`; and the listener's `spark.job` spans,
  * each under the driver span it started in, with their `spark.stage`
  * spans. A span's self time is its duration minus the part of it that its
  * child spans cover. */
object Trace {

  /** Length of the union of the intervals, clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var end = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) {
          total += b - math.max(a, end)
          end = b
        }
      }
    total
  }

  private def root(e: Exec): Option[Span] = e.spans.find(_.id == e.rootId)

  /** Query wall time during which none of the query's tasks ran. */
  def idleSeconds(e: Exec): Double = root(e).map { r =>
    (r.endNs - r.startNs - covered(e.taskIntervals.toSeq, r.startNs, r.endNs)) / 1e9
  }.getOrElse(0.0)

  /** The execution's spans with each job moved under the driver span it
    * started in. */
  def spans(e: Exec): Seq[Span] = {
    val driver = e.spans.filter(s => s.parent == e.rootId && s.name != "spark.job")
    e.spans.toSeq.map {
      case j if j.name == "spark.job" =>
        driver.find(d => d.startNs <= j.startNs && j.startNs <= d.endNs)
          .map(d => j.copy(parent = d.id)).getOrElse(j)
      case s => s
    }
  }

  /** Self time of every span, in nanoseconds. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs))
    }.toMap
  }

  /** Writes one JSON line per span, times in milliseconds from the first span. */
  def write(path: String, execs: Seq[Exec]): Unit = {
    val all = execs.map(e => e -> spans(e))
    val origin = all.flatMap(_._2.map(_.startNs)).minOption.getOrElse(0L)
    val lines = all.flatMap { case (e, ss) =>
      val self = selfTimes(ss)
      ss.sortBy(s => (s.startNs, s.id)).map { s =>
        Json.obj("query" -> Json.str(e.query), "pass" -> e.pass.toString, "span" -> s.id.toString,
          "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "start_ms" -> Json.num((s.startNs - origin) / 1e6), "dur_ms" -> Json.num((s.endNs - s.startNs) / 1e6),
          "self_ms" -> Json.num(self(s.id) / 1e6))
      }
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
