package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with the span that caused it. Times are
  * epoch milliseconds, so spans recorded around the benchmark's calls
  * and the Spark listener's job and stage times share one clock. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

/** The run's spans, kept in memory and written out when the run ends.
  * Shared by the tracers of every session a run brings up; only a traced
  * run (`enabled`) keeps them. Span ids are handed out either way. */
final class SpanSink(enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = if (enabled) spans.synchronized(spans += s)
  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Counters summed over the Spark tasks of one op. */
final class TaskTotals {
  var tasks, failed = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spillMem, spillDisk, inputBytes, outputBytes = 0L
}

/** Records, for the traced ops of a run, the Spark-side facts (jobs,
  * stages, task metrics, planning phases, written files) that belong to
  * each op, and their job and stage spans. A traced op's Spark work is
  * found through the job group, which the op sets to its own span id.
  * Streaming queries set their own group (their run id), and planning
  * phases carry no group; both are charged to the op whose time window
  * holds them, which is exact because one client runs one op at a time.
  * Every op opens a window, so work of an untraced op is never charged to
  * the traced op before it.
  *
  * Spark delivers listener events later, on its listener-bus thread; call
  * [[drain]] before reading the totals. Only traced runs create a tracer,
  * so untraced runs have no listener registered at all. */
final class Tracer(spark: SparkSession, sink: SpanSink) extends SparkListener
    with QueryExecutionListener {

  private val groupOp = new ConcurrentHashMap[String, java.lang.Long]()
  /** stage id -> (op, job span) */
  private val stageOp = new ConcurrentHashMap[Integer, (Long, Long)]()
  /** job id -> (op, job span, start ms) */
  private val jobOp = new ConcurrentHashMap[Integer, (Long, Long, Double)]()
  val tasksByOp = new ConcurrentHashMap[java.lang.Long, TaskTotals]()
  /** op id -> (analysis, optimization, planning) ms summed over its queries */
  val phasesByOp = new ConcurrentHashMap[java.lang.Long, Array[Double]]()
  val filesByOp = new ConcurrentHashMap[java.lang.Long, Array[Long]]()
  val stagesRetried = new AtomicLong(0)

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(spark.sparkContext)

  private def nextId(): Long = sink.nextId()
  private def add(s: Span): Unit = sink.add(s)

  def bindGroup(opId: Long): Unit = groupOp.put(opId.toString, opId)

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(groupOp.get(g))).map(_.longValue)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    opOf(e.properties).orElse(opAt(e.time.toDouble)).foreach { op =>
      val span = nextId()
      jobOp.put(e.jobId, (op, span, e.time.toDouble))
      e.stageIds.foreach(s => stageOp.put(s, (op, span)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobOp.remove(e.jobId)).foreach { case (op, span, start) =>
      add(Span(span, op, s"job ${e.jobId}", "job", start, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageOp.get(si.stageId)).foreach { case (_, job) =>
      if (si.attemptNumber() > 0) stagesRetried.incrementAndGet()
      for (s <- si.submissionTime; c <- si.completionTime)
        add(Span(nextId(), job, s"stage ${si.stageId}.${si.attemptNumber()}",
          "stage", s.toDouble, c.toDouble,
          Map("tasks" -> si.numTasks.toDouble)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageOp.get(e.stageId)).map(_._1).foreach { op =>
      val t = tasksByOp.computeIfAbsent(op, _ => new TaskTotals)
      t.synchronized {
        t.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) t.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          t.spillMem += m.memoryBytesSpilled
          t.spillDisk += m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
          t.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Planning phases and written files of a finished query. The listener
    * runs on the bus thread, so the op is found from the query's start
    * time: one client runs one op at a time. */
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0d)
    val at = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    opAt(at.toDouble).foreach { op =>
      val a = phasesByOp.computeIfAbsent(op, _ => new Array[Double](3))
      a.synchronized {
        a(0) += ms("analysis"); a(1) += ms("optimization"); a(2) += ms("planning")
      }
      def files(p: SparkPlan): Long = p match {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case c: CommandResultExec => files(c.commandPhysicalPlan)
        case a: AdaptiveSparkPlanExec => files(a.executedPlan)
        case q: QueryStageExec => files(q.plan)
        case other => other.children.map(files).sum
      }
      val written = files(qe.executedPlan)
      if (written > 0) {
        val f = filesByOp.computeIfAbsent(op, _ => new Array[Long](1))
        f.synchronized(f(0) += written)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** (op, start ms, end ms, traced) of every op, newest last. */
  private val opWindows = mutable.ArrayBuffer[(Long, Double, Double, Boolean)]()

  /** Mark an op running from `startMs` until [[closeOp]]. */
  def openOp(id: Long, startMs: Double, traced: Boolean): Unit =
    opWindows.synchronized(opWindows += ((id, startMs, Double.PositiveInfinity, traced)))

  def closeOp(id: Long, endMs: Double): Unit = opWindows.synchronized {
    val i = opWindows.lastIndexWhere(_._1 == id)
    if (i >= 0) opWindows(i) = opWindows(i).copy(_3 = endMs)
  }

  /** The traced op running at `t` (ms): ops run one at a time, so the
    * newest window that holds `t` is the one (the 1 ms slack covers the
    * listener's whole-millisecond clock). */
  private def opAt(t: Double): Option[Long] = opWindows.synchronized {
    opWindows.reverseIterator.find(w => w._2 <= t + 1 && t <= w._3 + 1)
      .filter(_._4).map(_._1)
  }
}
