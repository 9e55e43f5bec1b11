package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** One parquet scan an executed plan ran: the root paths it read, the
  * schema it asked the reader for, and Spark's own scan metrics. */
final case class ScanRec(paths: Seq[String], required: StructType, files: Long, timeMs: Long)

/** One file write an executed plan ran. */
final case class WriteRec(bytes: Long, files: Long, seconds: Double)

/** A span of one query's trace. Times are `System.nanoTime` values;
  * `parent` is 0 for a query's root span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** Everything recorded about one execution of one query. The per-layer
  * fields are filled only when the execution is traced. */
final class Exec(val query: String, val pass: Int, val traced: Boolean, val rootId: Long) {
  var wallS = 0.0
  var buildS = 0.0
  var executeS = 0.0
  var error: Option[String] = None
  var correct = false
  val scans = ArrayBuffer.empty[ScanRec]
  /** Footer bytes of [[scans]]: what their read schemas select, and what
    * their tables' full schemas would. */
  var scanBytes = 0L
  var fullScanBytes = 0L
  val writes = ArrayBuffer.empty[WriteRec]
  var plans = 0
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var generateMs = 0.0
  var rewriteMs = 0.0
  var relations = 0
  var narrowed = 0
  var keptLeaves = 0L
  var fullLeaves = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  var cachedBytes = 0L
  /** (launch, finish) of every task, as `System.nanoTime` values. */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
  val spans = ArrayBuffer.empty[Span]

  /** Spans come from the driver thread and the listener thread. */
  def add(s: Span): Unit = synchronized { spans += s }
}

/** Attributes Spark's listener events to the query execution that caused
  * them. The driver thread brackets each execution with [[begin]] and
  * [[end]]; jobs carry the execution's job group, and [[end]] drains the
  * listener bus so no event of one execution arrives during the next.
  *
  * A `QueryExecutionListener` records every executed plan's scans, writes
  * and Catalyst phase times; a `SparkListener` records jobs, stages and
  * tasks of traced executions. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  @volatile private var current: Exec = null
  private val groups = new ConcurrentHashMap[String, Exec]()
  private val stageOwner = new ConcurrentHashMap[Int, (Exec, Long)]()
  private val jobOpen = new ConcurrentHashMap[Int, (Exec, Long, Long)]()
  /** Offset that turns epoch milliseconds into `System.nanoTime` values. */
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def nanoOf(epochMs: Long): Long = epochMs * 1000000L + epochToNano
  private def nextId(): Long = ids.incrementAndGet()

  def newExec(query: String, pass: Int, traced: Boolean): Exec =
    new Exec(query, pass, traced, nextId())

  /** Times `body`, and records it as a child span of `e`'s query when `e`
    * is traced. */
  def span[T](e: Exec, name: String)(body: => T): T = {
    val start = System.nanoTime()
    try body
    finally if (e.traced) e.add(Span(nextId(), e.rootId, name, start, System.nanoTime()))
  }

  def begin(e: Exec): Unit = {
    val group = s"perfbench-${e.rootId}"
    groups.put(group, e)
    current = e
    sc.setJobGroup(group, s"${e.query} pass ${e.pass}")
  }

  def end(): Unit = {
    sc.clearJobGroup()
    BusDrain(sc)
    current = null
    groups.clear()
    stageOwner.clear()
    jobOpen.clear()
  }

  /** Runs `body` between executions, where nothing is counted, and drains
    * the listener bus after it. */
  def unrecorded[T](body: => T): T = {
    val t = body
    BusDrain(sc)
    t
  }

  private def owner(props: java.util.Properties): Exec = {
    val g = if (props == null) null else props.getProperty("spark.jobGroup.id")
    Option(g).flatMap(k => Option(groups.get(k))).getOrElse(current)
  }

  private def plans(p: SparkPlan): Iterator[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    Iterator(p) ++ kids.iterator.flatMap(plans)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)

    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val e = current
      if (e == null) return
      val phases = qe.tracker.phases
      def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
      val found = scala.util.Try(plans(qe.executedPlan).toList).getOrElse(Nil)
      e.synchronized {
        e.plans += 1
        e.analysisMs += ms("analysis")
        e.optimizationMs += ms("optimization")
        e.planningMs += ms("planning")
        found.foreach {
          case f: FileSourceScanExec if f.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
            e.scans += ScanRec(f.relation.location.rootPaths.map(_.toString), f.requiredSchema,
              metric(f, "numFiles"), metric(f, "scanTime"))
          case w: DataWritingCommandExec =>
            e.writes += WriteRec(metric(w, "numOutputBytes"), metric(w, "numFiles"), durationNs / 1e9)
          case _ =>
        }
      }
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val e = owner(j.properties)
      if (e == null || !e.traced) return
      val id = nextId()
      e.synchronized { e.jobs += 1 }
      jobOpen.put(j.jobId, (e, id, j.time))
      j.stageInfos.foreach(s => stageOwner.putIfAbsent(s.stageId, (e, id)))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobOpen.remove(j.jobId)).foreach { case (e, id, start) =>
        e.add(Span(id, e.rootId, "spark.job", nanoOf(start), nanoOf(j.time)))
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(s.stageInfo.stageId)).foreach { case (e, jobSpan) =>
        val info = s.stageInfo
        e.synchronized {
          e.stages += 1
          for (a <- info.submissionTime; b <- info.completionTime)
            e.spans += Span(nextId(), jobSpan, "spark.stage", nanoOf(a), nanoOf(b))
        }
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(t.stageId)).foreach { case (e, _) =>
        val m = t.taskMetrics
        e.synchronized {
          e.tasks += 1
          if (t.reason != Success) e.taskFailures += 1
          e.taskIntervals += ((nanoOf(t.taskInfo.launchTime), nanoOf(t.taskInfo.finishTime)))
          if (m != null) {
            e.taskMs += m.executorRunTime
            e.gcMs += m.jvmGCTime
            e.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            e.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            e.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  spark.listenerManager.register(queryListener)
  sc.addSparkListener(sparkListener)
}
