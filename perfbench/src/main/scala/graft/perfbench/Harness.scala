package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

object Harness {
  /** Set-ups per run; `setup_s` reports their median. */
  val setups = 3
}

/** One timed call into the engine. */
final case class OpRecord(id: Long, name: String, module: String,
                          startMs: Double, endMs: Double, ok: Boolean,
                          traced: Boolean, codegenNs: Long, compiles: Long) {
  def ms: Double = endMs - startMs
}

/** Session life cycle, op timing and span recording for one benchmark
  * process. Every session gets its own warehouse, local and checkpoint
  * directories under `stateDir`, and the index store root (which the run
  * script points at `stateDir/index_store`) is emptied with them, so no
  * session serves anything an earlier one built.
  *
  * A traced run (`trace`) registers a [[Tracer]] on every session and
  * keeps spans; ops run while [[tracing]] is set are the traced ones. An
  * untraced run registers no listener. */
final class Harness(val stateDir: File, val trace: Boolean) {
  val cores = 4
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  val jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  var spark: SparkSession = _
  var tracer: Tracer = _
  val sink = new SpanSink(trace)
  /** Whether the ops run from now on are traced; only a traced run sets it. */
  private var tracingNow = false
  def tracing: Boolean = tracingNow
  def tracing_=(on: Boolean): Unit = tracingNow = trace && on
  var sessions = 0
  val ops = mutable.ArrayBuffer[OpRecord]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val errors = mutable.ArrayBuffer[String]()
  val runSpan: Long = 0L

  def dir(name: String): File = new File(stateDir, s"session$sessions/$name")

  def indexStore: File = new File(
    sys.env.getOrElse("SPARK_GRAFT_INDEX_STORE", new File(stateDir, "index_store").getPath))

  /** Stop the current session (if any), wipe every piece of session state
    * and bring up a fresh session with the engine's standard config. */
  def freshSession(): SparkSession = {
    closeSession()
    sessions += 1
    Report.deleteTree(indexStore)
    val s = graft.Sessions.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", dir("warehouse").getAbsolutePath)
      .getOrCreate()
    spark = s
    if (trace) tracer = new Tracer(s, sink)
    s
  }

  /** Set-up `i` of a run: a fresh session, then `build` (given the set-up's
    * span id). Returns its duration in ms; the first set-up is timed from
    * JVM start, so it also carries JVM and Spark start-up. */
  def setup(i: Int)(build: Long => Unit): Double = {
    val t0 = if (i == 1) jvmStartMs else nowMs
    freshSession()
    val sid = sink.nextId()
    build(sid)
    val t1 = nowMs
    sink.add(Span(sid, runSpan, s"setup $i", "setup", t0, t1))
    t1 - t0
  }

  def closeSession(): Unit = if (spark != null) {
    if (tracer != null) tracer.detach()
    tracer = null
    spark.stop()
    spark = null
    Report.deleteTree(new File(stateDir, s"session$sessions"))
  }

  /** Time `body` as one op. While tracing, its Spark jobs run under a job
    * group named after the op's span id. A throw is recorded, not
    * rethrown: a failed op counts against the run and is never dropped. */
  def op[T](name: String, module: String, parent: Long)(body: Long => T): Option[T] = {
    val id = sink.nextId()
    val traced = tracingNow
    val sc = spark.sparkContext
    if (traced) {
      tracer.bindGroup(id)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    }
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = nowMs
    if (tracer != null) tracer.openOp(id, t0, traced)
    val out = try Some(body(id)) catch {
      case e: Throwable =>
        errors += s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
    val t1 = nowMs
    if (tracer != null) tracer.closeOp(id, t1)
    if (traced) sc.clearJobGroup()
    val rec = OpRecord(id, name, module, t0, t1, out.isDefined, traced,
      CodeGenerator.compileTime - cg0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0)
    ops += rec
    sink.add(Span(id, parent, name, "op", t0, t1, Map("ok" -> (if (out.isDefined) 1d else 0d))))
    out
  }

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20)

  def pinnedMb: Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum / (1 << 20)

  /** Per-layer numbers of the traced ops among `window`: Spark work per
    * op (planning phases, codegen, jobs, stages, tasks, executor time,
    * shuffle, spill and I/O), each layer's self time, and per-module busy
    * time over the whole window. Waits first until the listeners have
    * seen the events of the last traced op. */
  def layerMetrics(window: Seq[OpRecord], modules: Seq[String]): Unit = {
    tracer.drain()
    val traced = window.filter(_.traced)
    val n = traced.size.max(1).toDouble
    val spans = sink.all
    val ids = traced.map(_.id).toSet
    val jobs = spans.filter(s => s.kind == "job" && ids(s.parent))
    val jobOp = jobs.map(j => j.id -> j.parent).toMap
    val stages = spans.filter(s => s.kind == "stage" && jobOp.contains(s.parent))
    def per(f: Long => Double): Double = traced.map(o => f(o.id)).sum / n
    def phase(i: Int)(id: Long): Double =
      Option(tracer.phasesByOp.get(id)).map(_(i)).getOrElse(0d)
    def task(f: TaskTotals => Long)(id: Long): Double =
      Option(tracer.tasksByOp.get(id)).map(t => f(t).toDouble).getOrElse(0d)
    def covered(intervals: Seq[(Double, Double)]): Double = {
      var total = 0d; var end = Double.NegativeInfinity
      intervals.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
      total
    }
    val jobsOf = jobs.groupBy(_.parent)
    val stagesOf = stages.groupBy(s => jobOp(s.parent))
    val driverSelf = traced.map { o =>
      val busy = covered(jobsOf.getOrElse(o.id, Nil).map(j =>
        (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs))))
      o.ms - busy
    }.sum / n
    val schedSelf = traced.map { o =>
      covered(jobsOf.getOrElse(o.id, Nil).map(j => (j.startMs, j.endMs))) -
        covered(stagesOf.getOrElse(o.id, Nil).map(s => (s.startMs, s.endMs)))
    }.sum / n
    val runMs = per(task(_.runMs))
    val cpuMs = per(task(_.cpuNs)) / 1e6
    layer ++= Seq(
      "trace.ops" -> traced.size.toDouble,
      "trace.spans" -> spans.size.toDouble,
      "driver.analysis_ms" -> per(phase(0)),
      "driver.optimization_ms" -> per(phase(1)),
      "driver.planning_ms" -> per(phase(2)),
      "driver.codegen_ms" -> traced.map(_.codegenNs / 1e6).sum / n,
      "driver.codegen_compiles" -> traced.map(_.compiles.toDouble).sum / n,
      "driver.self_ms" -> driverSelf,
      "scheduler.self_ms" -> schedSelf,
      "scheduler.jobs" -> jobs.size / n,
      "scheduler.stages" -> stages.size / n,
      "scheduler.tasks" -> per(task(_.tasks)),
      "task.failed" -> traced.map(o => task(_.failed)(o.id)).sum,
      "stage.retried" -> tracer.stagesRetried.get.toDouble,
      "executor.run_ms" -> runMs,
      "executor.cpu_ms" -> cpuMs,
      "executor.cpu_ratio" -> (if (runMs > 0) cpuMs / runMs else 0d),
      "executor.gc_ms" -> per(task(_.gcMs)),
      "shuffle.write_bytes" -> per(task(_.shuffleWrite)),
      "shuffle.read_bytes" -> per(task(_.shuffleRead)),
      "shuffle.fetch_wait_ms" -> per(task(_.fetchWaitMs)),
      "spill.memory_bytes" -> per(task(_.spillMem)),
      "spill.disk_bytes" -> per(task(_.spillDisk)),
      "io.input_bytes" -> per(task(_.inputBytes)),
      "io.output_bytes" -> per(task(_.outputBytes)),
      "io.output_files" -> per(id =>
        Option(tracer.filesByOp.get(id)).map(_(0).toDouble).getOrElse(0d)))
    val untraced = window.filterNot(_.traced)
    val overhead = {
      val byName = untraced.groupBy(_.name).map { case (k, v) => k -> Report.mean(v.map(_.ms)) }
      val ratios = traced.groupBy(_.name).toSeq.flatMap { case (k, v) =>
        byName.get(k).filter(_ > 0).map(u => Report.mean(v.map(_.ms)) / u)
      }
      if (ratios.isEmpty) 0d else (Report.median(ratios) - 1) * 100
    }
    layer("trace.overhead_pct") = overhead
    modules.foreach { m =>
      val mine = window.filter(_.module == m)
      layer(s"$m.busy_s") = mine.map(_.ms).sum / 1000
      layer(s"$m.ops") = mine.size.toDouble
    }
  }

  def spansJson: String = sink.all.sortBy(_.startMs).map { s =>
    Report.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Report.str(s.name), "kind" -> Report.str(s.kind),
      "start_ms" -> Report.num(s.startMs), "end_ms" -> Report.num(s.endMs)) ++
      s.attrs.toSeq.map { case (k, v) => k -> Report.num(v) })
  }.mkString("[\n", ",\n", "\n]")
}
