package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.Tables
import graft.etl.BatchJob
import graft.sources.Sources
import graft.streaming.{Ingest, QuantileStreamFold}

/** The reference's own flow as an open loop. A generator thread lands
  * waves of air-quality records into a JSON landing zone at a fixed rate,
  * whether or not the pipeline keeps up; each record was rendered through
  * the wire path (`Ingest.renderPayload` -> `Sources.flattenApiPayload` ->
  * `Ingest.enrich`) from values the seed draws. The pipeline loop runs
  * cycles: streaming ingest (`Trigger.AvailableNow` into the
  * checkpointed parquet sink, plus a pm2_5 quantile fold), the batch ETL
  * (`BatchJob.run`: history and summary), and the dashboard read of the
  * summary. Cycles run back to back (a zero-interval trigger): the next
  * one starts as soon as the last one ends, once a new wave has landed, so
  * freshness is set by cycle time rather than by a schedule. A record's
  * latency is its freshness: from the moment its wave was due to land to
  * the end of the first dashboard read that counts it. Throughput is the
  * rate at which the loop carries records from landing into history and
  * summary: `BatchJob.run` recomputes both from every landed record, so a
  * cycle carries all records landed before it, and the loop is busy all
  * the time its cycles run. */
object Pipeline {
  val name = "aq_pipeline"
  val waveRecords = 200
  val intervalMs = 250.0
  val warmCycles = 2

  private val summarySchema = StructType(Seq(
    StructField("location", StringType), StructField("air_quality_index", StringType),
    StructField("count", LongType), StructField("avg_temp", DoubleType),
    StructField("avg_pm25", DoubleType), StructField("avg_humidity", DoubleType),
    StructField("avg_pollution_score", DoubleType)))

  /** `n` records starting at id `first`, through the wire path, one JSON
    * array per wave of [[waveRecords]]. */
  def render(spark: SparkSession, seed: Long, first: Long, n: Int): Seq[String] = {
    val ticks = spark.range(first, first + n, 1, 1).select(
      timestamp_seconds(lit(1704067200L) + col("id") * 30 +
        pmod(xxhash64(col("id"), lit(seed)), lit(30L))).as("timestamp"),
      pmod(xxhash64(lit(seed), col("id")), lit(1000000L)).as("value"))
    val recs = Ingest.enrich(Sources.flattenApiPayload(Ingest.renderPayload(ticks)))
      .withColumn("kafka_offset", monotonically_increasing_id() + first)
      .withColumn("kafka_partition", (col("kafka_offset") % 3).cast("int"))
      .toJSON.collect()
    recs.grouped(waveRecords).map(_.mkString("[", ",\n", "]")).toSeq
  }

  final class Dirs(root: File) {
    root.mkdirs()
    val landing = new File(root, "landing"); landing.mkdirs()
    def path(n: String): String = new File(root, n).getAbsolutePath
  }

  /** Land one wave atomically: Spark's listing skips dot files, so the
    * rename is the moment the wave becomes visible. */
  def land(d: Dirs, k: Int, json: String): Unit = {
    val tmp = new File(d.landing, f".wave-$k%05d.tmp")
    Files.write(tmp.toPath, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(d.landing, f"wave-$k%05d.json").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  final case class Cycle(startMs: Double, endMs: Double, summaryRows: Long,
                         batchMs: Double, readMs: Double)

  /** One ingest -> batch ETL -> dashboard read cycle. Returns None when a
    * step failed (the harness has recorded the error). */
  def cycle(h: Harness, d: Dirs, fold: QuantileStreamFold, parent: Long,
            progress: mutable.Buffer[Map[String, Double]]): Option[Cycle] = {
    val spark = h.spark
    val start = h.nowMs
    val ingested = h.op("ingest", "streaming.Ingest", parent) { _ =>
      val stream = spark.readStream.schema(Tables.airQualitySchema)
        .option("multiline", "true").json(d.landing.getAbsolutePath)
      val sink = Ingest.sink(stream, d.path("ingest"), d.path("ingest_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      val folded = stream.writeStream
        .option("checkpointLocation", d.path("fold_ckpt"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          fold.onBatch(batch.toDF(), id, "pm2_5")
        }.start()
      Seq(sink, folded).foreach(_.awaitTermination())
      Seq("sink" -> sink, "fold" -> folded).foreach { case (k, q) => record(k, q, progress) }
    }
    val i1 = h.nowMs
    val batch = ingested.flatMap(_ => h.op("batch_job", "etl.BatchJob", parent) { _ =>
      BatchJob.run(spark, d.landing.getAbsolutePath, d.path("history"), d.path("summary"))
    })
    val b1 = h.nowMs
    val read = batch.flatMap(_ => h.op("read", "dashboard", parent) { _ =>
      spark.read.schema(summarySchema).option("header", "true")
        .csv(d.path("summary")).collect().map(_.getLong(2)).sum
    })
    val end = h.nowMs
    for (b <- batch; r <- read) yield {
      if (b._1 != r) h.errors += s"cycle: history has ${b._1} rows, summary counts $r"
      Cycle(start, end, r, b1 - i1, end - b1)
    }
  }

  private def record(kind: String, q: StreamingQuery,
                     out: mutable.Buffer[Map[String, Double]]): Unit =
    q.recentProgress.foreach { p =>
      out += (p.durationMs.asScala.map { case (k, v) => s"$kind.$k" -> v.doubleValue }.toMap +
        (s"$kind.rows" -> p.numInputRows.toDouble))
    }

  def run(h: Harness, a: Args): Result = {
    val nWaves = math.ceil(a.seconds * 1000 / intervalMs).toInt
    var waves: Seq[String] = Nil
    var warm: Seq[String] = Nil
    val setupMs = (1 to Harness.setups).map(h.setup(_) { sid =>
      h.op("render", "setup", sid) { _ =>
        waves = render(h.spark, a.seed, 0, nWaves * waveRecords)
        warm = render(h.spark, a.seed + 1, 0, warmCycles * waveRecords)
      }.foreach(_ => h.layer("setup.artifact.render_s") = h.ops.last.ms / 1000)
    })
    // warm the whole cycle in a throw-away state tree, one wave a cycle
    val w0 = h.nowMs
    val wd = new Dirs(h.dir("warm"))
    val wfold = new QuantileStreamFold(grain = 1.0)
    warm.zipWithIndex.foreach { case (json, k) =>
      land(wd, k, json); cycle(h, wd, wfold, h.runSpan, mutable.Buffer.empty)
    }
    val warmMs = h.nowMs - w0
    val warmFailed = h.ops.count(!_.ok)

    val d = new Dirs(h.dir("run"))
    val fold = new QuantileStreamFold(grain = 1.0)
    val progress = mutable.Buffer[Map[String, Double]]()
    val t0 = h.nowMs
    val due = (0 until nWaves).map(k => t0 + k * intervalMs)
    val landedAt = new Array[Double](nWaves)
    @volatile var landed = 0
    val gen = new Thread(() => {
      try (0 until nWaves).foreach { k =>
        val wait = due(k) - h.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        land(d, k, waves(k))
        landedAt(k) = h.nowMs
        landed = k + 1
      } catch { case e: Throwable => h.errors += s"generator: $e" }
    }, "perfbench-generator")
    gen.setDaemon(true)
    h.resetHeapPeak()
    gen.start()
    val first = h.ops.size
    val cycles = mutable.ArrayBuffer[Cycle]()
    val visibleAt = Array.fill(nWaves)(Double.NaN)
    val wid = h.sink.nextId()
    var seen = 0
    var ok = true
    // cycles run back to back while new waves land, until one has run
    // after the last wave landed
    var drained = false
    while (ok && !drained) {
      while (landed <= seen && landed < nWaves) Thread.sleep(1)
      h.tracing = cycles.size % 2 == 1
      val landedBefore = landed
      val cid = h.sink.nextId()
      cycle(h, d, fold, cid, progress) match {
        case Some(c) =>
          cycles += c
          h.sink.add(Span(cid, wid, s"cycle ${cycles.size}", "cycle", c.startMs, c.endMs))
          val visible = (c.summaryRows / waveRecords).toInt
          if (c.summaryRows % waveRecords != 0 || visible < landedBefore || visible > nWaves) {
            h.errors += s"cycle ${cycles.size}: summary counts ${c.summaryRows} records, " +
              s"$landedBefore waves of $waveRecords had landed before it began"
            ok = false
          }
          (seen until visible).foreach(k => visibleAt(k) = c.endMs)
          seen = math.max(seen, visible)
          drained = landedBefore == nWaves
        case None => ok = false
      }
    }
    h.tracing = false
    gen.join()
    val t1 = h.nowMs
    h.sink.add(Span(wid, h.runSpan, s"workload $name", "workload", t0, t1))
    val window = h.ops.drop(first).toSeq
    val failed = window.count(!_.ok)

    // end state: every landed record is in the ingest sink, the fold, the
    // history and the summary, exactly once
    val total = nWaves.toLong * waveRecords
    if (ok) {
      val sinkRows = h.spark.read.parquet(d.path("ingest")).count()
      val foldRows = fold.histogram.map(_._2).sum
      val histRows = h.spark.read.parquet(d.path("history")).count()
      Seq("ingest sink" -> sinkRows, "quantile fold" -> foldRows, "history" -> histRows,
        "summary" -> cycles.last.summaryRows).foreach { case (what, n) =>
        if (n != total) { h.errors += s"$what holds $n records, $total landed"; ok = false }
      }
    }
    val fresh = if (ok) visibleAt.indices.map(k => visibleAt(k) - due(k))
                else Seq(Double.PositiveInfinity)
    val carried = cycles.map(_.summaryRows).sum.toDouble
    val busyMs = cycles.map(c => c.endMs - c.startMs).sum

    def meanOf(k: String): Double = Report.mean(progress.flatMap(_.get(k)))
    val sinkBatches = progress.count(_.contains("sink.rows"))
    h.layer ++= Seq(
      "setup.bringup_s" -> Report.median(setupMs) / 1000,
      "setup.warmup_s" -> warmMs / 1000,
      "streaming.Ingest.batches" -> sinkBatches.toDouble,
      "streaming.Ingest.add_batch_ms" -> meanOf("sink.addBatch"),
      "streaming.Ingest.get_batch_ms" -> meanOf("sink.getBatch"),
      "streaming.Ingest.query_planning_ms" -> meanOf("sink.queryPlanning"),
      "streaming.Ingest.wal_commit_ms" -> meanOf("sink.walCommit"),
      "streaming.Ingest.input_rows_per_s" ->
        progress.flatMap(_.get("sink.rows")).sum / (progress.flatMap(_.get("sink.triggerExecution")).sum / 1000).max(1e-9),
      "streaming.Ingest.source_lag_s" -> Report.mean(
        (0 until landed).map { k =>
          cycles.find(_.startMs >= landedAt(k)).map(_.startMs - landedAt(k)).getOrElse(0d) / 1000
        }),
      "streaming.fold.add_batch_ms" -> meanOf("fold.addBatch"),
      "streaming.fold.state_bins" -> fold.histogram.size.toDouble,
      "etl.BatchJob.run_s" -> Report.mean(cycles.map(_.batchMs)) / 1000,
      "dashboard.read_ms" -> Report.mean(cycles.map(_.readMs)),
      "pipeline.cycles" -> cycles.size.toDouble,
      "gen.lag_s" -> Report.mean((0 until landed).map(k => (landedAt(k) - due(k)) / 1000)),
      "storage.pinned_mb" -> h.pinnedMb,
      "jvm.heap_peak_mb" -> h.heapPeakMb)
    if (a.trace) h.layerMetrics(window, Seq("streaming.Ingest", "etl.BatchJob", "dashboard"))
    Result(
      correct = ok && failed == 0 && warmFailed == 0,
      attempted = window.size, failed = failed,
      endToEnd = Seq(
        "setup_s" -> (Report.median(setupMs) + warmMs) / 1000,
        "ops_per_s" -> carried / (busyMs / 1000).max(1e-9),
        "latency_p50_ms" -> Report.pct(fresh, 50),
        "latency_p80_ms" -> Report.pct(fresh, 80)),
      stamp = Main.stamp(a, s"aq-gen-r$waveRecords-i${intervalMs.toInt}",
        "cycles" -> cycles.size.toString, "waves" -> nWaves.toString,
        "window_s" -> Report.num((t1 - t0) / 1000)))
  }
}
