package graft.perfbench

/** Turns a run's executions into its metrics: the end-to-end metrics from
  * the untraced timed passes, the per-layer metrics from the traced ones. */
final class Report(workload: String, execs: Seq[Exec], setupS: Double, peakRssMb: Double) {
  private val timed = execs.filter(_.pass > 0)
  private val untraced = timed.filterNot(_.traced)
  private val traced = timed.filter(_.traced)
  /** Executions that raised an error or produced a wrong output. */
  private val failed = timed.count(e => !e.correct)
  private val wrong = timed.count(e => e.error.isEmpty && !e.correct)

  private def passes(es: Seq[Exec]): Seq[Seq[Exec]] = es.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
  /** The median over passes of a per-pass aggregate. */
  private def perPass(es: Seq[Exec])(f: Seq[Exec] => Double): Double = Report.median(passes(es).map(f))
  private def total(es: Seq[Exec]): Double = perPass(es)(_.map(_.wallS).sum)

  /** Latency samples take every execution, a failed one at the time it took
    * to fail; `ok_share` counts the failures. */
  private def endToEnd: Seq[(String, Double, String)] = {
    val walls = untraced.map(_.wallS).sorted
    val required = perPass(untraced)(_.map(_.scanBytes.toDouble).sum)
    val full = perPass(untraced)(_.map(_.fullScanBytes.toDouble).sum)
    Seq(
      ("setup_s", setupS, "s"),
      ("total_s", total(untraced), "s"),
      ("query_s_p50", Report.median(walls), "s"),
      ("query_s_tail", Report.tail(walls)._1, "s"),
      ("query_s_geomean", math.exp(walls.map(w => math.log(math.max(w, 1e-9))).sum / walls.size), "s"),
      ("ok_share", untraced.count(_.correct).toDouble / untraced.size, "share"),
      ("scan_bytes", required, "bytes"),
      ("read_fraction", if (full > 0) required / full else 1.0, "share"),
      ("peak_rss_mb", peakRssMb, "MB"))
  }

  private def perLayer: Seq[(String, Double, String)] = {
    def sum(f: Exec => Double) = perPass(traced)(_.map(f).sum)
    def mean(f: Exec => Double) = perPass(traced)(p => p.map(f).sum / p.size)
    val keptLeaves = sum(_.keptLeaves.toDouble)
    val fullLeaves = sum(_.fullLeaves.toDouble)
    val tracedTotal = total(traced)
    val untracedTotal = total(untraced)
    Seq(
      ("schema.generate_ms", mean(_.generateMs), "ms"),
      ("schema.rewrite_ms", mean(_.rewriteMs), "ms"),
      ("schema.narrowed", sum(_.narrowed.toDouble), "count"),
      ("schema.kept_leaf_fraction", if (fullLeaves > 0) keptLeaves / fullLeaves else 1.0, "share"),
      ("schema.full_fallbacks", sum(e => (e.relations - e.narrowed).toDouble), "count"),
      ("catalyst.analysis_ms", mean(_.analysisMs.toDouble), "ms"),
      ("catalyst.optimization_ms", mean(_.optimizationMs.toDouble), "ms"),
      ("catalyst.planning_ms", mean(_.planningMs.toDouble), "ms"),
      ("catalyst.plans", mean(_.plans.toDouble), "count"),
      ("operators.build_s", sum(_.buildS), "s"),
      ("operators.execute_s", sum(_.executeS), "s"),
      ("operators.cached_bytes", perPass(traced)(_.map(_.cachedBytes.toDouble).max), "bytes"),
      ("spark.jobs", sum(_.jobs.toDouble), "count"),
      ("spark.stages", sum(_.stages.toDouble), "count"),
      ("spark.tasks", sum(_.tasks.toDouble), "count"),
      ("spark.idle_s", sum(Trace.idleSeconds), "s"),
      ("spark.task_s", sum(_.taskMs / 1e3), "s"),
      ("spark.gc_s", sum(_.gcMs / 1e3), "s"),
      ("spark.shuffle_read_bytes", sum(_.shuffleRead.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", sum(_.shuffleWrite.toDouble), "bytes"),
      ("spark.task_failures", sum(_.taskFailures.toDouble), "count"),
      ("scan.required_bytes", sum(_.scanBytes.toDouble), "bytes"),
      ("scan.input_bytes", sum(_.inputBytes.toDouble), "bytes"),
      ("scan.time_ms", sum(_.scans.map(_.timeMs).sum.toDouble), "ms"),
      ("scan.files", sum(_.scans.map(_.files).sum.toDouble), "count"),
      ("write.bytes", sum(_.writes.map(_.bytes).sum.toDouble), "bytes"),
      ("write.files", sum(_.writes.map(_.files).sum.toDouble), "count"),
      ("write.s", sum(_.writes.map(_.seconds).sum), "s"),
      ("fail_share", failed.toDouble / timed.size, "share"),
      ("trace.total_s", tracedTotal, "s"),
      ("trace.untraced_total_s", untracedTotal, "s"),
      ("trace.overhead_s", tracedTotal - untracedTotal, "s"))
  }

  /** What a reader needs to interpret the metrics: sample counts, the tail's
    * percentile, the read_fraction base and every failed execution. */
  private def record: String = {
    val walls = untraced.map(_.wallS)
    val (_, pct) = Report.tail(walls)
    val full = perPass(untraced)(_.map(_.fullScanBytes.toDouble).sum)
    val failures = timed.filterNot(_.correct).map { e =>
      Json.obj("query" -> Json.str(e.query), "pass" -> e.pass.toString,
        "error" -> Json.str(e.error.getOrElse("wrong output")))
    }
    Json.obj(
      "workload" -> Json.str(workload),
      "queries" -> Json.arr(timed.filter(_.pass == 1).map(e => Json.str(e.query))),
      "timed_passes" -> passes(untraced).size.toString,
      "query_samples" -> walls.size.toString,
      "query_s_tail_percentile" -> Json.num(pct),
      "query_s_tail_samples_beyond" -> (if (pct < 100.0) "10" else "0"),
      "read_fraction_base_bytes" -> Json.num(full),
      "fail_share" -> Json.num(failed.toDouble / timed.size),
      "failures" -> Json.arr(failures),
      "setup_note" -> Json.str("setup_s includes the warm-up pass (JIT, codegen, first reads). " +
        "It would also fill the library's process-scoped memos (q102/q104, q135/q136, t50/t51, " +
        "t37/q147/q148), but no query of this workload uses one, so deleting a memo moves no " +
        "cost from setup_s into total_s here"))
  }

  def json(tracedRun: Boolean): String = {
    val metrics = (if (tracedRun) perLayer else endToEnd).map { case (name, value, unit) =>
      name -> Json.obj("value" -> Json.num(value), "unit" -> Json.str(unit))
    }
    Json.obj("correct" -> (wrong == 0).toString, "attempted" -> timed.size.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(metrics: _*), "record" -> record)
  }
}

object Report {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the value
    * with exactly ten larger samples, and its percentile. With fewer than 22
    * samples that value is at or below the median, which is no tail, so the
    * tail is the maximum. */
  def tail(sorted: Seq[Double]): (Double, Double) =
    if (sorted.size < 22) (sorted.lastOption.getOrElse(0.0), 100.0)
    else (sorted(sorted.size - 11), 100.0 * (sorted.size - 10) / sorted.size)
}

/** Just enough JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = graft.Verify.q(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
