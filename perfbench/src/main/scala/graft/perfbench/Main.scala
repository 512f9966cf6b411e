package graft.perfbench

import java.io.File

/** What one run reports: the correctness verdict, op counts, the
  * end-to-end metrics (per-layer ones accumulate in the harness), and
  * stamps that tie the numbers to their inputs. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        endToEnd: Seq[(String, Double)],
                        stamp: Seq[(String, String)])

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      corpus: String, state: String, expect: String,
                      out: String, spansOut: String, commit: String)

/** Entry point of one benchmark run; see `perfbench/run.py`, which builds
  * this program, makes the inputs and prints the result line.
  *
  * Every run sets up three times, each time in a fresh session with empty
  * state; `setup_s` is the median of the three set-ups plus the warm-up
  * that follows the last one, and the warm-up doubles as the JIT and
  * codegen warm-up the timed window needs. With `--trace 1` the listeners
  * record every other sweep (or pipeline cycle); per-layer numbers come
  * from the recorded stretches and the tracing overhead from comparing
  * them with the unrecorded ones. */
object Main {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("corpus", ""), need("state"),
      m.getOrElse("expect", ""), need("out"), m.getOrElse("spans", ""),
      m.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val h = new Harness(new File(a.state), a.trace)
    val result = try {
      if (a.workload == Pipeline.name) Pipeline.run(h, a)
      else Queries.workloads.find(_.name == a.workload) match {
        case Some(w) => QueryRun.run(h, a, w)
        case None => sys.error(s"unknown workload ${a.workload}")
      }
    } finally {
      h.sink.add(Span(h.runSpan, -1, s"run ${a.workload}", "run", h.jvmStartMs, h.nowMs))
      if (a.trace && a.spansOut.nonEmpty) Report.write(a.spansOut, h.spansJson)
      h.closeSession()
    }
    val layer = if (a.trace) h.layer.toSeq else Nil
    Report.write(a.out, Report.obj(Seq(
      "correct" -> result.correct.toString,
      "attempted" -> result.attempted.toString,
      "failed" -> result.failed.toString,
      "end_to_end" -> Report.obj(result.endToEnd.map { case (k, v) => k -> Report.num(v) }),
      "per_layer" -> Report.obj(layer.map { case (k, v) => k -> Report.num(v) }),
      "stamp" -> Report.obj(result.stamp.map { case (k, v) => k -> Report.str(v) }),
      "errors" -> h.errors.take(50).map(Report.str).mkString("[", ",", "]"))))
  }

  /** The stamps every result carries, so runs on different inputs,
    * machines or code are never compared by accident. */
  def stamp(a: Args, corpusFp: String, extra: (String, String)*): Seq[(String, String)] =
    Seq("workload" -> a.workload, "seed" -> a.seed.toString,
      "corpus_fp" -> corpusFp, "master" -> "local[4]",
      "machine_cores" -> Runtime.getRuntime.availableProcessors.toString,
      "commit" -> a.commit) ++ extra
}

/** Expected query outputs, recorded beside the benchmark: row count, plus
  * an order-insensitive digest where the result is deterministic. */
object Expect {
  def load(path: String): Map[String, (Long, Option[String])] =
    if (path.isEmpty || !new File(path).isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.getLines().filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
        val f = l.split("\t")
        f(0) -> (f(1).toLong, Some(f(2)).filter(_ != "-"))
      }.toMap finally src.close()
    }
}

object QueryRun {
  val warmSweeps = 2
  /** Enough samples that at least ten lie beyond the 80th percentile.
    * (Ten beyond the 90th would take 101 queries, about 30 s a run at
    * this corpus size, which the benchmark's time budget cannot hold.) */
  val minSamples = 61

  def run(h: Harness, a: Args, w: QueryWorkload): Result = {
    val expected = Expect.load(a.expect)
    var mismatches = 0
    def check(q: String, rows: Array[org.apache.spark.sql.Row]): Unit =
      expected.get(q) match {
        case None =>
          mismatches += 1; h.errors += s"$q: no expected output recorded"
        case Some((n, d)) =>
          if (rows.length != n || d.exists(_ != Report.digest(rows))) {
            mismatches += 1
            h.errors += s"$q: got ${rows.length} rows digest ${Report.digest(rows)}, want $n ${d.getOrElse("-")}"
          }
      }
    def runQuery(q: String, parent: Long): Unit =
      h.op(q, Queries.moduleOf(q), parent)(_ => Queries.fn(q)(h.spark, a.corpus).collect())
        .foreach(rows => check(q, rows))

    val setupMs = (1 to Harness.setups).map(h.setup(_) { sid =>
      w.artifacts.foreach { case (name, build) =>
        h.op(s"artifact $name", "setup", sid)(_ => build(h.spark, a.corpus))
          .foreach(_ => h.layer(s"setup.artifact.${name}_s") = h.ops.last.ms / 1000)
      }
    })
    h.layer("ext.IndexStore.bytes") = Report.treeBytes(h.indexStore).toDouble
    val w0 = h.nowMs
    (1 to warmSweeps).foreach(_ => w.queries.foreach(runQuery(_, h.runSpan)))
    val warmMs = h.nowMs - w0
    val warmFailed = h.ops.count(!_.ok)

    val rnd = new scala.util.Random(a.seed)
    val first = h.ops.size
    h.resetHeapPeak()
    val t0 = h.nowMs
    val wid = h.sink.nextId()
    val sweepRates = scala.collection.mutable.ArrayBuffer[Double]()
    while (h.nowMs < t0 + a.seconds * 1000.0 || h.ops.size - first < minSamples) {
      h.tracing = sweepRates.size % 2 == 1
      val s0 = h.nowMs
      rnd.shuffle(w.queries).foreach(runQuery(_, wid))
      sweepRates += w.queries.size / ((h.nowMs - s0) / 1000)
    }
    h.tracing = false
    val t1 = h.nowMs
    h.sink.add(Span(wid, h.runSpan, s"workload ${w.name}", "workload", t0, t1))
    val window = h.ops.drop(first).toSeq
    val failed = window.count(!_.ok)
    val lat = window.map(o => if (o.ok) o.ms else Double.PositiveInfinity)
    h.layer ++= Seq(
      "setup.bringup_s" -> Report.median(setupMs) / 1000,
      "setup.warmup_s" -> warmMs / 1000,
      "storage.pinned_mb" -> h.pinnedMb,
      "jvm.heap_peak_mb" -> h.heapPeakMb)
    if (a.trace) h.layerMetrics(window, Queries.modules.map(_._1))
    val fp = graft.ext.IndexStore.combinedFingerprint(h.spark, a.corpus, Seq(
      "region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings"))
    Result(
      correct = failed == 0 && warmFailed == 0 && mismatches == 0,
      attempted = window.size, failed = failed,
      endToEnd = Seq(
        "setup_s" -> (Report.median(setupMs) + warmMs) / 1000,
        // the median sweep, so one sweep a host hiccup slowed cannot move it
        "ops_per_s" -> Report.median(sweepRates),
        "latency_p50_ms" -> Report.pct(lat, 50),
        "latency_p80_ms" -> Report.pct(lat, 80)),
      stamp = Main.stamp(a, fp, "sweeps" -> sweepRates.size.toString,
        "window_s" -> Report.num((t1 - t0) / 1000)))
  }
}
