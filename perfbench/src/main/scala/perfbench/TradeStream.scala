package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sources.LineLogOffset
import graft.streaming.MinuteStream

/** `trade_stream`: the reference pipeline, [[MinuteStream.start]], over
  * a `graftlog` trade log in two phases.
  *
  *  1. Drain: a pre-written backlog (`stream.json` "backlog_lines",
  *     written by tradegen.py before the JVM starts) drained with
  *     `Trigger.AvailableNow` in `drain_batches` bounded micro-batches.
  *  2. Open loop: the query restarts from the same checkpoint with the
  *     default trigger while a separate generator process appends lines
  *     on a wall-clock schedule; each line's lag runs from its due time
  *     to the end of the micro-batch that committed it.
  *
  * Micro-batch numbers come from a StreamingQueryListener (every batch,
  * no `recentProgress` cap). A traced run also drains the backlog
  * untraced before and after the traced drain, into scratch checkpoints,
  * to measure the tracer's overhead. */
final class TradeStream(dataDir: String, workDir: String, res: Result,
                        setup: (SparkSession => Unit) => SparkSession) {
  import Main._

  private val cfg = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$dataDir/stream.json"))
  private val logs = cfg.get("logs").asInt
  private val perLine = cfg.get("per_line").asInt
  private val backlogLines = cfg.get("backlog_lines").asLong
  private val drainBatches = cfg.get("drain_batches").asInt
  private val linesPerS = cfg.get("lines_per_s").asDouble
  private val liveSeconds = cfg.get("live_seconds").asDouble
  private val logDir = s"$dataDir/log"

  private final case class Batch(p: StreamingQueryProgress, phase: Int) {
    val start: Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val end: Double = start + p.durationMs.getOrDefault("triggerExecution", 0L)
    def ms(k: String): Double = p.durationMs.getOrDefault(k, 0L).toDouble
    def offsets(s: String): Map[String, Long] = Option(s).map(LineLogOffset.parse(_).counts).getOrElse(Map.empty)
  }

  private def envelopes(spark: SparkSession, dir: String, limit: Option[Long]): DataFrame = {
    val r = spark.readStream.format("graftlog").option("path", dir)
    limit.fold(r)(n => r.option("maxLinesPerTrigger", n)).load()
  }

  def run(gen: String): Unit = {
    res.provenance("rate_trades_per_s") = (linesPerS * perLine).toString
    res.provenance("backlog_trades") = (backlogLines * perLine).toString
    // a small copy of the log for warm-ups
    val warmLog = s"$workDir/warm/log"
    new java.io.File(warmLog).mkdirs()
    (0 until logs).foreach { k =>
      val lines = Files.readAllLines(Paths.get(s"$logDir/log$k")).asScala.take(50)
      Files.write(Paths.get(s"$warmLog/log$k"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    // set-up: session start plus the whole streaming pipeline once over
    // the small log, so the drain measures steady state, not first-use
    // code generation
    var setupN = 0
    val spark = setup { s =>
      setupN += 1
      MinuteStream.start(envelopes(s, warmLog, None), s"$workDir/warm/ckpt$setupN",
        s"$workDir/warm/out$setupN", trigger = Trigger.AvailableNow(), compactEvery = 0)
        .awaitTermination()
    }
    val batches = ArrayBuffer.empty[Batch]
    @volatile var phase = 1 // 0: an untraced overhead drain, left out of the numbers
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized { batches += Batch(e.progress, phase) }
    }
    spark.streams.addListener(listener)
    val tracer = new Tracer(spark)
    val ckpt = s"$workDir/ckpt"
    val out = s"$workDir/out"
    def drain(toCkpt: String, toOut: String): Double = {
      val d0 = System.nanoTime()
      MinuteStream.start(envelopes(spark, logDir, Some(backlogLines / drainBatches)), toCkpt, toOut,
        trigger = Trigger.AvailableNow(), compactEvery = 0).awaitTermination()
      (System.nanoTime() - d0) / 1e9
    }
    def untracedDrain(tag: String): Double = {
      phase = 0
      val t = drain(s"$workDir/ckpt_$tag", s"$workDir/out_$tag")
      phase = 1
      t
    }

    val before = if (res.trace) untracedDrain("before") else 0.0
    if (res.trace) tracer.attach()
    val cpu0 = Probes.cpuSeconds
    val drainS = drain(ckpt, out)
    val cpuDrain = Probes.cpuSeconds - cpu0
    if (res.trace) {
      tracer.detach()
      res.perLayer("trace.overhead_pct") = (drainS / ((before + untracedDrain("after")) / 2) - 1) * 100
      tracer.attach()
    }
    val heapDrain = Probes.liveHeapMb()
    mark("drain done")

    // open loop. The restarted query first commits a few priming lines
    // (one per log), so its restart cost is not charged to the lag.
    phase = 2
    val prime = logs
    def generate(first: Long, linesPerS: Double, seconds: Double, startMs: Long, stats: String): Boolean = {
      val cmd = gen.split(" ").toSeq ++ Seq("--dir", logDir, "--seed", res.seed.toString,
        "--first", first.toString, "--lines-per-s", linesPerS.toString, "--seconds", seconds.toString,
        "--start-ms", startMs.toString, "--stats", stats)
      new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(new java.io.File(s"$workDir/gen.log")).start().waitFor() == 0
    }
    val live = MinuteStream.start(envelopes(spark, logDir, None), ckpt, out,
      trigger = Trigger.ProcessingTime(0L), compactEvery = 0)
    val primed = generate(backlogLines, 1000.0, prime / 1000.0, System.currentTimeMillis(), s"$workDir/prime.json")
    live.processAllAvailable()
    val startMs = System.currentTimeMillis() + 500
    val stats = s"$workDir/gen_stats.json"
    val genOk = primed && generate(backlogLines + prime, linesPerS, liveSeconds, startMs, stats)
    if (!genOk) { res.failures += "generator failed"; res.failed += 1 }
    mark("generator done")
    live.processAllAvailable()
    live.stop()
    mark("open loop done")
    val cpu = Probes.cpuSeconds - cpu0
    val heap = median(Seq(heapDrain, Probes.liveHeapMb()))
    Tracer.drain(spark)
    if (res.trace) tracer.detach()
    spark.streams.removeListener(listener)
    val all = batches.synchronized(batches.toSeq).filter(b => b.phase > 0 && b.p.numInputRows > 0)
    val liveLines = (linesPerS * liveSeconds).toLong

    // lag of every generated line: due time -> end of committing batch.
    // Line i >= backlogLines sits in log i % logs at offset
    // backlogLines / logs + (i - backlogLines) / logs.
    val lags = ArrayBuffer.empty[Double]
    all.filter(_.phase == 2).foreach { b =>
      val s0 = b.offsets(b.p.sources.head.startOffset)
      val s1 = b.offsets(b.p.sources.head.endOffset)
      (0 until logs).foreach { k =>
        (s0.getOrElse(s"log$k", 0L) until s1.getOrElse(s"log$k", 0L)).foreach { j =>
          val i = backlogLines + (j - backlogLines / logs) * logs + k - (backlogLines + prime)
          if (i >= 0) lags += b.end - (startMs + i * 1000.0 / linesPerS)
        }
      }
    }
    if (lags.size != liveLines) {
      res.failed += 1; res.failures += s"open loop committed ${lags.size} of $liveLines lines"
    }
    val e = res.endToEnd
    e("wall_s") = drainS
    val liveBatches = all.filter(b => b.phase == 2 && b.start >= startMs).map(_.ms("triggerExecution") / 1000)
    e("query_p50_s") = median(liveBatches)
    e("query_p85_s") = percentile(liveBatches, 0.85)
    e("cpu_s") = cpu
    e("live_heap_mb") = heap
    e("events_per_s") = backlogLines * perLine / drainS
    e("lag_p50_ms") = median(lags.toSeq)
    e("lag_p90_ms") = percentile(lags.toSeq, 0.9)
    val genLate = if (genOk) new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(stats)).get("late_max_ms").asDouble else 0.0
    res.detail += f"""{"drain_s":$drainS%.3f,"drain_cpu_s":$cpuDrain%.3f,"live_heap_mb_after_drain":$heapDrain%.1f,"lag_samples":${lags.size},"live_batches":${liveBatches.size},"gen_late_max_ms":$genLate%.1f}"""

    all.foreach { b =>
      res.detail += f"""{"batch":${b.p.batchId},"phase":${b.phase},"rows":${b.p.numInputRows},"trigger_ms":${b.ms("triggerExecution")}%.0f,"add_batch_ms":${b.ms("addBatch")}%.0f}"""
    }
    if (res.trace) traceStream(tracer, all, genLate)

    check(spark, all, out)
    mark("check done")
    spark.stop()
  }

  private def traceStream(tracer: Tracer, all: Seq[Batch], genLate: Double): Unit = {
    val L = res.perLayer
    def p50(f: Batch => Double) = median(all.map(f))
    L("streaming.query_planning_ms") = p50(_.ms("queryPlanning"))
    L("streaming.wal_commit_ms") = p50(_.ms("walCommit"))
    L("streaming.commit_offsets_ms") = p50(_.ms("commitOffsets"))
    L("streaming.latest_offset_ms") = p50(_.ms("latestOffset"))
    L("streaming.state_commit_ms") = p50(_.p.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0))
    L("streaming.add_batch_ms") = p50(_.ms("addBatch"))
    val spans = all.map(b => Span(s"batch${b.p.batchId}", b.start, b.end))
    L("sink.write_ms") = median(spans.map(s => tracer.spansIn(tracer.writes, s).map(_.dur).sum))
    L("streaming.state_rows") = all.flatMap(_.p.stateOperators.headOption.map(_.numRowsTotal.toDouble)).maxOption.getOrElse(0.0)
    L("streaming.state_mem_bytes") = all.flatMap(_.p.stateOperators.headOption.map(_.memoryUsedBytes.toDouble)).maxOption.getOrElse(0.0)
    L("streaming.rows_dropped_by_watermark") = all.flatMap(_.p.stateOperators.map(_.numRowsDroppedByWatermark.toDouble)).sum
    L("streaming.backlog_lines_max") = all.map { b =>
      val end = b.offsets(b.p.sources.head.endOffset)
      b.offsets(b.p.sources.head.latestOffset).map { case (k, v) => v - end.getOrElse(k, 0L) }.sum.toDouble
    }.maxOption.getOrElse(0.0)
    L("bench.gen_late_max_ms") = genLate
    L("queries.build_s") = 0.0 // no Q.fn: the pipeline is built once per start
    // engine layers over the micro-batches, totals for the timed phases
    L ++= tracer.layers(spans.map(s => (s, s, Nil)), 1.0)
    // trace file: micro-batch -> phase, in execution order
    all.zip(spans).foreach { case (b, s) =>
      val bi = res.spans.size
      res.spans += s
      var t = s.start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
        res.spans += Span(k, t, t + b.ms(k), bi); t += b.ms(k)
      }
    }
  }

  /** Flushed bars must equal `minuteBars(parseTrades(...))` evaluated
    * over the whole log in one shot, for every window the stream's final
    * watermark has closed. (`dropDuplicatesWithinWatermark` rejects
    * batch frames, so the one shot is a single AvailableNow batch.) */
  private def check(spark: SparkSession, all: Seq[Batch], out: String): Unit = {
    val wm = all.flatMap(b => Option(b.p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli).maxOption.getOrElse(0L)
    val closed = col("timestamp") + expr("INTERVAL 1 MINUTE") <= lit(new java.sql.Timestamp(wm))
    val cols = Seq("timestamp", "symbol", "open", "high", "low", "close", "volume").map(col)
    MinuteStream.minuteBars(MinuteStream.parseTrades(envelopes(spark, logDir, None)))
      .writeStream.format("memory").queryName("expected_bars").outputMode("append")
      .option("checkpointLocation", s"$workDir/expected_ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val expected = spark.table("expected_bars").filter(closed).select(cols: _*).cache()
    val actual = spark.read.parquet(s"$out/bars").filter(closed).select(cols: _*).cache()
    val n = expected.count()
    val diff = expected.exceptAll(actual).count() + actual.exceptAll(expected).count()
    res.attempted += n.toInt
    if (diff > 0 || n == 0) {
      res.failed += math.max(1L, math.min(diff, n)).toInt
      res.failures += s"flushed bars differ from the batch pipeline: $diff rows of $n"
    }
    res.provenance("bars_checked") = n.toString
  }
}
