package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the driver's wall clock (epoch milliseconds,
  * fractional). `parent` is filled in when spans are nested for output. */
final case class Span(name: String, start: Double, end: Double, parent: Int = -1) {
  def dur: Double = end - start
}

/** Per-task numbers summed by [[Tracer]]. */
final class TaskSums {
  var tasks, runMs, cpuNs, gcMs, deserMs, fetchWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, peakMem = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime; cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime; deserMs += m.executorDeserializeTime
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.diskBytesSpilled + m.memoryBytesSpilled
    inputBytes += m.inputMetrics.bytesRead
    peakMem = math.max(peakMem, m.peakExecutionMemory)
  }
}

/** The traced run's recorder. It attaches one SparkListener and one
  * QueryExecutionListener to the session and keeps every event as a
  * [[Span]] in memory: SQL executions, Catalyst phases (from
  * `QueryExecution.tracker`), jobs, stages and task intervals. The
  * benchmark adds its own client spans (query, build, action) and asks
  * for the layer breakdown of each client span afterwards.
  *
  * The client is single-threaded and runs one query at a time, so an
  * engine span belongs to the client span that contains its start. */
final class Tracer(spark: SparkSession) {
  val sql, catalyst, jobs, stages, tasks, writes = ArrayBuffer.empty[Span]
  /** (epoch ms, task metrics) per finished task, for per-span sums. */
  val taskMetrics = ArrayBuffer.empty[(Double, org.apache.spark.executor.TaskMetrics)]
  /** (epoch ms, ms by operator class) from each AQE-final plan. */
  val opTimes = ArrayBuffer.empty[(Double, Map[String, Double])]
  private val sqlStart = scala.collection.mutable.Map.empty[Long, Double]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Double]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized { sqlStart(s.executionId) = s.time.toDouble }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqlStart.remove(s.executionId).foreach(t => sql += Span("sql", t, s.time.toDouble))
      }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStart(j.jobId) = j.time.toDouble }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(j.jobId).foreach(t => jobs += Span("job", t, j.time.toDouble))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = s.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime) stages += Span("stage", a.toDouble, b.toDouble)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val i = t.taskInfo
      tasks += Span("task", i.launchTime.toDouble, i.finishTime.toDouble)
      if (t.taskMetrics != null) taskMetrics += i.launchTime.toDouble -> t.taskMetrics
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe, -1L)
  }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ops = try Tracer.operatorTimes(qe.executedPlan) catch { case _: Throwable => Map.empty[String, Double] }
    val isWrite = qe.analyzed.getClass.getSimpleName.startsWith("InsertIntoHadoopFsRelation")
    synchronized {
      phases.foreach { case (name, p) => catalyst += Span(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      val at = phases.get("planning").map(_.endTimeMs.toDouble).getOrElse(System.currentTimeMillis().toDouble)
      opTimes += at -> ops
      if (isWrite && durationNs > 0) writes += Span("write", at, at + durationNs / 1e6)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    Tracer.drain(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def inside[T](xs: Iterable[(Double, T)], w: Span): Iterable[T] =
    xs.collect { case (t, v) if t >= w.start && t < w.end => v }

  def spansIn(xs: Iterable[Span], w: Span): Seq[Span] =
    xs.filter(s => s.start >= w.start && s.start < w.end).toSeq

  /** Engine-layer metrics over client windows -- queries, or stream
    * micro-batches -- summed over the windows and divided by `per`
    * (timed passes; 1 for the stream). Each window comes with its
    * action span (no-task time in it is the driver gap) and its client
    * sub-spans for [[selfTimes]]. */
  def layers(windows: Seq[(Span, Span, Seq[Span])], per: Double): Map[String, Double] = synchronized {
    val ws = windows.map(_._1)
    val t = new TaskSums
    ws.foreach(w => inside(taskMetrics, w).foreach(t.add))
    val ops = ws.flatMap(w => inside(opTimes, w)).flatten.groupMapReduce(_._1)(_._2)(_ + _).withDefaultValue(0.0)
    def count(xs: Iterable[Span]) = ws.map(w => spansIn(xs, w).size).sum / per
    def phase(n: String) = ws.flatMap(w => spansIn(catalyst, w)).filter(_.name == n).map(_.dur).sum / 1000 / per
    val actions = windows.map(_._2)
    val actionWall = actions.map(_.dur).sum
    val gap = windows.map { case (w, a, _) => a.dur - Intervals.covered(a, spansIn(tasks, w)) }.sum
    val wall = ws.map(_.dur).sum
    val busy = ws.map(w => Intervals.covered(w, spansIn(tasks, w))).sum
    val self = windows.map { case (w, _, c) => w -> selfTimes(w, c) }
    def selfS(p: String => Boolean) = self.flatMap(_._2.collect { case (k, v) if p(k) => v }).sum / 1000 / per
    // the 20 longest windows: share of each explained by a named layer
    val cover = self.sortBy(-_._1.dur).take(20).map { case (w, m) => 1 - m.getOrElse("unattributed", 0.0) / w.dur }
    Map(
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "spark.jobs" -> count(jobs), "spark.stages" -> count(stages), "spark.tasks" -> t.tasks / per,
      "spark.driver_gap_s" -> gap / 1000 / per,
      "spark.slot_util" -> (if (actionWall > 0) t.runMs / (Main.Cpus * actionWall) else 0.0),
      "spark.task_run_s" -> t.runMs / 1000.0 / per, "spark.task_cpu_s" -> t.cpuNs / 1e9 / per,
      "spark.gc_s" -> t.gcMs / 1000.0 / per, "spark.deser_s" -> t.deserMs / 1000.0 / per,
      "exec.wscg_s" -> ops("wscg") / 1000 / per, "exec.sort_s" -> ops("sort") / 1000 / per,
      "exec.agg_s" -> ops("agg") / 1000 / per,
      "spark.shuffle_read_bytes" -> t.shuffleRead / per, "spark.shuffle_write_bytes" -> t.shuffleWrite / per,
      "spark.shuffle_fetch_wait_s" -> t.fetchWaitMs / 1000.0 / per,
      "spark.spill_bytes" -> t.spill / per, "spark.peak_exec_mem_bytes" -> t.peakMem.toDouble,
      "sources.scan_s" -> ops("scan") / 1000 / per, "sources.input_bytes" -> t.inputBytes / per,
      // share of wall time with no task running: Catalyst, build and
      // driver gaps together -- the "stage-latency" number
      "trace.no_task_share" -> (if (wall > 0) 1 - busy / wall else 0.0),
      "trace.self_exec_s" -> selfS(_ == "exec"),
      "trace.self_stage_wait_s" -> selfS(_ == "stage_wait"),
      "trace.self_job_gap_s" -> selfS(_ == "job_gap"),
      "trace.self_catalyst_s" -> selfS(_.startsWith("catalyst.")),
      "trace.self_sql_other_s" -> selfS(_ == "sql_other"),
      "trace.self_build_s" -> selfS(_ == "build"),
      "trace.self_unattributed_s" -> selfS(_ == "unattributed"),
      "trace.coverage_min" -> cover.minOption.getOrElse(0.0))
  }

  /** Self time of client span `w`, by layer, in milliseconds. Every
    * instant of `w` goes to exactly one layer — the innermost engine
    * span covering it — so the layers sum to `w.dur`:
    *   exec (a task running) > stage_wait (stage open, no task) >
    *   job_gap (job open, no stage) > catalyst.<phase> > sql_other
    *   (SQL execution open, none of the above) > `children` client
    *   spans (e.g. build, action) > unattributed. */
  def selfTimes(w: Span, children: Seq[Span]): Map[String, Double] = synchronized {
    val layers: Seq[(String, Seq[Span])] = Seq(
      "exec" -> spansIn(tasks, w), "stage_wait" -> spansIn(stages, w),
      "job_gap" -> spansIn(jobs, w)) ++
      spansIn(catalyst, w).groupBy(_.name).toSeq.sortBy(_._1).map { case (n, s) => s"catalyst.$n" -> s } ++
      Seq("sql_other" -> spansIn(sql, w)) ++
      children.map(c => c.name -> Seq(c))
    val cuts = (Seq(w.start, w.end) ++ layers.flatMap(_._2.flatMap(s => Seq(s.start, s.end))))
      .filter(t => t >= w.start && t <= w.end).distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val layer = layers.collectFirst { case (n, ss) if ss.exists(s => s.start <= mid && mid < s.end) => n }
        out(layer.getOrElse("unattributed")) += b - a
      case _ =>
    }
    out.toMap
  }
}

object Tracer {
  /** Wait until the listener bus has delivered every posted event. The
    * bus is package-private in Spark; reflection reaches it. */
  def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children ++ other.subqueries
  }

  /** Timing SQL metrics of an AQE-final plan, summed by layer:
    * whole-stage codegen duration, sort time, aggregation build time
    * and file-scan time (all milliseconds). */
  def operatorTimes(root: SparkPlan): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val todo = scala.collection.mutable.Stack(root)
    while (todo.nonEmpty) {
      val p = todo.pop()
      def metric(m: String): Double = p.metrics.get(m).map { x =>
        if (x.metricType == "nsTiming") x.value / 1e6 else x.value.toDouble
      }.getOrElse(0.0)
      p.nodeName match {
        case n if n.startsWith("WholeStageCodegen") => acc("wscg") += metric("pipelineTime")
        case "Sort" => acc("sort") += metric("sortTime")
        case n if n.endsWith("Aggregate") => acc("agg") += metric("aggTime")
        case n if n.startsWith("Scan") || n.contains("BatchScan") => acc("scan") += metric("scanTime")
        case _ =>
      }
      todo.pushAll(kids(p))
    }
    acc.toMap
  }
}
