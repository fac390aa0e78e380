package graft.perf

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did on behalf of one op, gathered by the listeners. */
final class OpStats {
  var jobs = 0
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  var cpuNs = 0L
  var scanBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var planMs = 0L
  var filesRead = 0L
  var fileBytesRead = 0L
  var rowsScanned = 0L
}

/** A span of the traced run. Jobs become spans too, parented to the
  * span that was innermost on the bench thread when they were
  * submitted. Times are nanoseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, var end: Long = -1L)

/** The outcome of one timed op. */
final case class Timed[T](value: T, ms: Double, stats: Option[OpStats])

/** Records spans in memory around the bench's calls into each layer,
  * and attributes Spark work to them: a job group per op and a local
  * property per span carry the link, a [[SparkListener]] collects
  * jobs and task metrics, and a [[QueryExecutionListener]] collects
  * planning time and scan metrics. With `enabled = false` every method
  * just runs its body: the untraced runs register no listener and set
  * no property. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val opStats = new ConcurrentHashMap[Int, OpStats]()
  @volatile private var currentOp = -1
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobInfo = new ConcurrentHashMap[Int, (Int, Int, Long)]()

  private val GroupPrefix = "perf-op-"
  private val SpanProp = "graft.perf.span"

  private def statsOf(op: Int): Option[OpStats] = Option(opStats.get(op))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)
        .getOrElse(currentOp)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(op)
      e.stageIds.foreach(s => stageOp.put(s, op))
      jobInfo.put(e.jobId, (op, parent, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.remove(e.jobId)).foreach { case (op, parent, start) =>
        statsOf(op).foreach { s => s.synchronized {
          s.jobs += 1
          s.jobIntervals += ((start, e.time))
        }}
        spans.synchronized {
          spans += Span(-1, parent, s"job ${e.jobId}", "spark",
            (start - t0Ms) * 1000000L, (e.time - t0Ms) * 1000000L)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val op = Option(stageOp.get(e.stageId)).map(_.intValue).getOrElse(currentOp)
      if (m != null) statsOf(op).foreach { s => s.synchronized {
        s.cpuNs += m.executorCpuTime
        s.scanBytes += m.inputMetrics.bytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }}
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      statsOf(currentOp).foreach { s =>
        val phases = qe.tracker.phases
        val plan = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        val found = scala.util.Try(scans(qe.executedPlan)).getOrElse(Nil)
        def metric(f: FileSourceScanExec, k: String): Long =
          f.metrics.get(k).map(_.value).getOrElse(0L)
        s.synchronized {
          s.planMs += plan
          found.foreach { f =>
            s.filesRead += metric(f, "numFiles")
            s.fileBytesRead += metric(f, "filesSize")
            s.rowsScanned += metric(f, "numOutputRows")
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  private def now: Long = System.nanoTime() - t0Ns

  private def open(name: String, layer: String): Span = {
    val s = Span(spans.synchronized(spans.size), stack.headOption.getOrElse(-1),
      name, layer, now)
    spans.synchronized(spans += s)
    stack = s.id :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = now
    stack = stack.tail
    sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
  }

  /** A layer call inside an op (open, find, plan, execute, ...). */
  def call[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name, layer)
      try body finally close(s)
    }

  /** A span around a whole workload (or one of its phases). */
  def workload[T](name: String)(body: => T): T = call(name, "workload")(body)

  /** One timed op: a probe, append, delete, compact or operator run.
    * The wall time excludes the listener drain the traced run does
    * afterwards, so attribution never inflates the op. */
  def op[T](kind: String, name: String)(body: => T): Timed[T] =
    if (!enabled) {
      val t = System.nanoTime()
      val v = body
      Timed(v, (System.nanoTime() - t) / 1e6, None)
    } else {
      val s = open(s"$kind:$name", "op")
      val stats = new OpStats
      opStats.put(s.id, stats)
      currentOp = s.id
      sc.setJobGroup(GroupPrefix + s.id, s"$kind $name", interruptOnCancel = false)
      val gc0 = Run.gcMillis()
      val t = System.nanoTime()
      val v = try body finally {
        close(s)
        sc.clearJobGroup()
      }
      val ms = (System.nanoTime() - t) / 1e6
      stats.gcMs = Run.gcMillis() - gc0
      drain()
      currentOp = -1
      Timed(v, ms, Some(stats))
    }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit =
    if (enabled && !org.apache.spark.GraftListenerBridge.flushListeners(sc))
      System.err.println("[perfbench] listener bus drain timed out")

  /** Every span with its duration and self time (duration minus the
    * union of its children's intervals), times in milliseconds. */
  def spanRecords: Seq[Seq[(String, Any)]] = {
    val all = spans.synchronized(spans.toVector)
    val ids = all.zipWithIndex.map { case (s, i) => if (s.id >= 0) s else s.copy(id = -2 - i) }
    val children = ids.groupBy(_.parent)
    ids.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val dur = s.end - s.start
      val self = dur - Stats.unionLength(Stats.clip(kids, s.start, s.end))
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.start / 1e6, "dur_ms" -> dur / 1e6,
        "self_ms" -> self / 1e6)
    }
  }

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }
}
