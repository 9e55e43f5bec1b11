package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.schema.{PlanRewriter, SchemaOnRead}

/** The benchmark JVM, launched by `perfbench/run.py` (see README.md there).
  *
  *   gen --seed N --rows R --data DIR --work DIR
  *     writes the seeded nested table into DIR, without a Spark session;
  *   run --workload W --seed N --seconds S --trace 0|1 --work DIR
  *       [--data DIR] [--sf DIR --canon FILE]
  *     sets up (session start, table touch, warm-up pass), runs the
  *     timed passes, checks each query's output and writes result.json
  *     into the work DIR. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("gen") => NestedData.write(opts("seed").toLong, opts("rows").toLong, opts("data"))
      case Some("run") => new Run(opts).apply()
      case _ =>
        System.err.println("usage: gen|run --key value ...")
        sys.exit(2)
    }
  }

  /** A session configured the way a user of the library configures one:
    * all local cores and the library's extensions. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName("scorespark-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.schema.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One benchmark run in this JVM. One driver thread submits the queries
  * one after another (a closed loop with one client). */
final class Run(opts: Map[String, String]) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val work = opts("work")
  log("main entered")
  private val spark = Main.session(work)
  private val rec = new Recorder(spark)
  private val workload: Workload = opts("workload") match {
    case "battery" =>
      new Battery(spark, opts("sf"), opts("canon"), opts("seed").toLong)
    case "nested_read" => new NestedRead(spark, opts("data"))
    case "nested_write" => new NestedWrite(spark, opts("data"), s"$work/written")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  /** The checked output of each query. */
  private val produced = scala.collection.mutable.Map.empty[BenchQuery, Fingerprint]
  private val footers = new Footers(spark.sessionState.newHadoopConf(), s"$work/footers")

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s: $msg")

  def apply(): Unit = {
    // set-up: JVM and session start, table touch and a warm-up pass, which
    // covers JIT, codegen and first reads
    log("session started")
    workload.touch()
    log("tables touched")
    workload.queries.foreach(q => runOnce(q, pass = 0, traced = false, check = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log("warm-up pass done")

    val traced = opts("trace") == "1"
    val k = math.max(1, math.round(opts("seconds").toDouble / workload.secondsPerPass).toInt)
    // a traced run interleaves untraced and traced passes (u t t u u t ...),
    // so both see the same conditions and their difference is the tracing
    // overhead
    val passes = if (traced) (1 to 2 * k).map(p => (p, p % 4 == 2 || p % 4 == 3))
      else (1 to k).map((_, false))
    // each query's output is checked on its last timed execution: a check
    // after every execution would run every query twice per pass
    val execs = passes.flatMap { case (p, t) =>
      System.gc()
      workload.queries.map(runOnce(_, p, t, check = p == passes.size))
    }
    log(s"${passes.size} timed passes done")
    val rssMb = peakRssMb()

    // a query whose checked output is wrong, or whose last execution
    // failed, has every execution counted as failed
    val checked = produced.map { case (q, f) => q.name -> rec.unrecorded(workload.expected(q)).contains(f) }
    execs.foreach(e => e.correct = e.error.isEmpty && checked.getOrElse(e.query, false))
    write(new Report(workload.name, execs, setupS, rssMb).json(traced))
    if (traced) Trace.write(s"$work/trace.jsonl", execs.filter(_.traced))
    log("done")
    spark.stop()
  }

  /** Runs one query: the timed build and final action, then, outside the
    * timed region, the footer accounting, the output check if `check`, and
    * the between-query sweep of cached and checkpointed blocks. */
  private def runOnce(q: BenchQuery, pass: Int, traced: Boolean, check: Boolean): Exec = {
    val e = rec.newExec(q.name, pass, traced)
    rec.begin(e)
    val t0 = System.nanoTime()
    var fingerprint: () => Fingerprint = null
    try {
      val df = rec.span(e, "build")(q.build())
      e.buildS = (System.nanoTime() - t0) / 1e9
      if (traced) schemaLayer(e, df)
      val t1 = System.nanoTime()
      fingerprint = rec.span(e, "execute")(workload.execute(q, df))
      e.executeS = (System.nanoTime() - t1) / 1e9
    } catch {
      case NonFatal(err) =>
        val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
        e.error = Some(causes.map { c =>
          s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).linesIterator.nextOption().getOrElse("")}"
        }.mkString(" / caused by "))
        if (pass == 0) err.printStackTrace()
    }
    val t2 = System.nanoTime()
    e.wallS = (t2 - t0) / 1e9
    if (traced) e.add(Span(e.rootId, 0L, "query", t0, t2))
    rec.end()
    if (traced) e.cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (pass > 0 && e.error.isEmpty) {
      try {
        // footer accounting of the input tables' scans (files a query writes
        // and reads back depend on its own sampling), done now, while the
        // files still exist
        e.scans.filter(_.paths.forall(inInputs)).foreach { s =>
          val (required, full) = footers(s)
          e.scanBytes += required
          e.fullScanBytes += full
        }
        if (check) produced(q) = rec.unrecorded(fingerprint())
      } catch { case NonFatal(err) => e.error = Some(s"output check: ${err.getMessage}") }
    }
    log(f"${q.name} pass $pass ${e.wallS}%.3f s" + e.error.map(" failed: " + _).getOrElse(""))
    sweep()
    e
  }

  /** Times the generator and the plan rewrite on the query's analyzed plan,
    * from outside the optimizer rule that runs them during execution. The
    * rewrite gets a copy of the plan, because it tags the plan it processes. */
  private def schemaLayer(e: Exec, df: DataFrame): Unit = {
    val analyzed = df.queryExecution.analyzed
    var t = System.nanoTime()
    val result = rec.span(e, "schema.generate")(SchemaOnRead.generate(analyzed, spark))
    e.generateMs = (System.nanoTime() - t) / 1e6
    t = System.nanoTime()
    rec.span(e, "schema.rewrite")(PlanRewriter.prune(analyzed.clone(), spark))
    e.rewriteMs = (System.nanoTime() - t) / 1e6
    result.fullSchemas.foreach { case (key, full) =>
      val kept = Leaves.count(result.schemas.getOrElse(key, full))
      val all = Leaves.count(full)
      e.relations += 1
      if (kept < all) e.narrowed += 1
      e.keptLeaves += kept
      e.fullLeaves += all
    }
  }

  private val inputRoot = new java.io.File(workload.inputs).getCanonicalPath
  private def inInputs(path: String): Boolean = {
    val p = new java.io.File(new org.apache.hadoop.fs.Path(path).toUri.getPath).getCanonicalPath
    p == inputRoot || p.startsWith(inputRoot + java.io.File.separator)
  }

  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def write(json: String): Unit =
    Files.write(Paths.get(s"$work/result.json"), json.getBytes(StandardCharsets.UTF_8))
}
