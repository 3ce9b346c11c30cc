package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one session, one client
  * thread. `run.py` builds this, makes the inputs from the seed and
  * checks the outputs; this object sets up, measures, and writes one
  * JSON result file (`--out`). Arguments, all required:
  *
  *   --workload olap_sf001|corpus_x10|trade_stream  --seed N
  *   --data DIR (inputs, read only)  --work DIR (scratch)
  *   --replica DIR (corpus_x10's cached 10x replica)  --out FILE
  *   --seconds S  --trace 0|1
  *   trade_stream only: --gen "python3 perfbench/tradegen.py"
  */
object Main {
  val Cpus = 4
  val Setups = 3

  /** `olap_sf001` runs every ninth of the 87 TPC-H-style queries (10),
    * so that a check pass and five timed passes fit one run. */
  val OlapQueries: Seq[String] =
    graft.Queries.all.map(_.name).filter(_.matches("q\\d\\d_.*")).sorted
      .zipWithIndex.collect { case (n, i) if i % 9 == 0 => n }
  /** Nominal length of a timed pass of a batch workload: a run makes
    * round(seconds / PassSeconds) timed passes (a traced run at least
    * 3), the same count every run, so that runs are compared at the
    * same point of JIT warm-up. */
  val PassSeconds = 4.0
  /** The 14 LLM-data queries run by `corpus_x10`. s04 and s12 are left
    * out: without the full Queries.prepare (about 30 s, too long to
    * repeat in every set-up) their timed run would build an IVF index. */
  val CorpusQueries: Seq[String] = Seq("d03", "d04", "d05", "d07", "d11", "d16",
    "t01", "t16", "t17", "t31", "t38", "s01", "p01", "p08")
    .map(p => graft.Queries.all.map(_.name).find(_.startsWith(p + "_")).get)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val res = new Result(workload, a("seed").toLong, a("seconds").toDouble, a("trace") == "1")
    val run = new Run(a("data"), a("work"), a("replica"), res)
    workload match {
      case "olap_sf001" | "corpus_x10" => run.batch()
      case "trade_stream" => run.stream(a("gen"))
      case other => sys.error(s"unknown workload $other")
    }
    Files.writeString(Paths.get(a("out")), res.json)
  }

  /** The one place a session is made: local[4], 4 shuffle partitions,
    * UTC, and the same AQE coalescing floor the project's Bench uses. */
  def session(warehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "262144")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private val t0 = System.nanoTime()
  /** Progress line on stderr (the JVM log), with seconds since start. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")
}

/** Everything one invocation reports: end-to-end metrics, per-layer
  * metrics, per-operation detail, provenance and the outputs to check. */
final class Result(val workload: String, val seed: Long, val seconds: Double, val trace: Boolean) {
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val provenance = scala.collection.mutable.LinkedHashMap.empty[String, String]
  val detail = ArrayBuffer.empty[String] // JSON objects
  val spans = ArrayBuffer.empty[Span]
  var attempted, failed = 0
  val failures = ArrayBuffer.empty[String]
  /** (query name, output dir, oracle SQL or "") for the DuckDB check. */
  val checks = ArrayBuffer.empty[(String, String, String)]

  private def q(s: String) = "\"" + graft.streaming.AlertSink.jsonEscape(s) + "\""
  private def obj(m: Iterable[(String, Double)]) =
    m.map { case (k, v) => s"${q(k)}:${if (v.isNaN || v.isInfinite) "0" else v.toString}" }.mkString("{", ",", "}")
  def json: String = Seq(
    s""""workload":${q(workload)}""", s""""seed":$seed""", s""""trace":$trace""",
    s""""attempted":$attempted""", s""""failed":$failed""",
    s""""failures":${failures.map(q).mkString("[", ",", "]")}""",
    s""""end_to_end":${obj(endToEnd)}""", s""""per_layer":${obj(perLayer)}""",
    s""""provenance":${provenance.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")}""",
    s""""checks":${checks.map { case (n, d, o) => s"""{"name":${q(n)},"dir":${q(d)},"oracle":${q(o)}}""" }.mkString("[", ",", "]")}""",
    s""""detail":${detail.mkString("[", ",", "]")}""",
    s""""spans":${spans.map(s => f"""{"name":${q(s.name)},"start":${s.start}%.3f,"end":${s.end}%.3f,"parent":${s.parent}}""").mkString("[", ",", "]")}"""
  ).mkString("{", ",", "}")
}

/** Process-level probes that need no Spark listener. */
object Probes {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Heap in use right after a forced full collection, in MB: the live
    * set the process retains between units of work. The first collection
    * queues Spark's weakly referenced shuffles and broadcasts for its
    * ContextCleaner; the second, after the cleaner has run, frees them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

final class Run(dataDir: String, workDir: String, replicaDir: String, res: Result) {
  import Main._

  private def now: Double = System.currentTimeMillis().toDouble
  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).take(8).map("%02x".format(_)).mkString

  private def fingerprint(dir: String): String = graft.sources.Tables.all
    .filter(t => new java.io.File(s"$dir/$t.parquet").exists)
    .map(t => graft.sources.DerivedTables.sourceFingerprint(dir, t)).mkString("|")

  /** Session start, warm-up and `prep`, repeated [[Main.Setups]] times
    * with a fresh warehouse each time; setup_s is the median. The last
    * session is returned for the timed phase. */
  def setup(prep: SparkSession => Unit): SparkSession = {
    val times = ArrayBuffer.empty[Double]
    var s: SparkSession = null
    for (i <- 1 to Setups) {
      if (s != null) s.stop()
      val t0 = System.nanoTime()
      s = session(s"$workDir/warehouse$i")
      prep(s)
      times += (System.nanoTime() - t0) / 1e9
      mark(f"setup $i took ${times.last}%.2f s")
    }
    res.endToEnd("setup_s") = median(times.toSeq)
    res.detail += s"""{"setup_s":${times.mkString("[", ",", "]")}}"""
    s
  }

  // ------------------------------------------------------------- batch

  def batch(): Unit = {
    val names = if (res.workload == "olap_sf001") OlapQueries else CorpusQueries
    val dir = if (res.workload == "olap_sf001") dataDir else {
      // the 10x replica: untimed, outside setup_s, cached by the source
      // fingerprint of the base it was made from
      val rep = replicaDir
      val fp = fingerprint(dataDir)
      val stamp = new java.io.File(s"$rep/_source_fingerprint")
      if (!stamp.exists || Files.readString(stamp.toPath) != fp) {
        graft.tools.MakeScale.main(Array(dataDir, rep, "10"))
        Files.writeString(stamp.toPath, fp)
      }
      val cls = "graft/tools/MakeScale$.class"
      res.provenance("replica_generator") = "graft.tools.MakeScale x10"
      res.provenance("replica_generator_sha256") =
        sha256(getClass.getClassLoader.getResourceAsStream(cls).readAllBytes())
      rep
    }
    res.provenance("source_fingerprint") = fingerprint(dataDir)
    res.provenance("data_dir_fingerprint") = fingerprint(dir)
    val fns = graft.SparkEntry.queries
    val spark = setup { s =>
      graft.sources.Tables.all.foreach(t => graft.sources.Tables(s, dir, t).limit(1).count())
      // the public Queries.prepare steps these queries use
      if (res.workload == "olap_sf001") graft.Queries.ensureEventsByDate(s, dir) // q73
      else { graft.Queries.ensureIngestKeys(s, dir); graft.Queries.ensureCorpusClusters(s, dir) } // d16
    }
    // every pass runs the queries in its own seed-derived order, so
    // that order effects average out within a run
    def order(pass: Int) = new Random(res.seed * 7919 + pass).shuffle(names)
    val tracer = new Tracer(spark)
    val sc = spark.sparkContext

    // one pass = every query once; a query's latency is its build (the
    // Q.fn call) plus its action (noop write). A pass ends with a full
    // GC, outside its timing, to sample the live heap.
    final case class Op(name: String, pass: Int, query: Span, build: Span, action: Span, ok: Boolean)
    final case class Pass(n: Int, wallMs: Double, cpuS: Double, heapMb: Double, traced: Boolean)
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Pass]
    def runPass(traced: Boolean): Unit = {
      val pass = passes.size
      val c0 = Probes.cpuSeconds
      val p0 = now
      order(pass).foreach { name =>
        val t0 = now
        var t1 = -1.0 // end of the build; stays -1 if the build throws
        val ok = try {
          val df = fns(name)(spark, dir)
          t1 = now
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          res.failures += s"$name: $e"
          false
        }
        val t2 = now
        if (t1 < 0) t1 = t2
        ops += Op(name, pass, Span(name, t0, t2), Span("build", t0, t1), Span("action", t1, t2), ok)
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      val wall = now - p0
      passes += Pass(pass, wall, Probes.cpuSeconds - c0, Probes.liveHeapMb(), traced)
      mark(f"pass $pass took ${wall / 1000}%.2f s")
    }

    // correctness, untimed: every query's output once, for run.py to
    // compare. This pass also warms the JIT for the timed passes.
    new Random(res.seed).shuffle(names).foreach { name =>
      val out = s"$workDir/check/$name"
      try {
        fns(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out)
        res.checks += ((name, out, graft.SparkEntry.oracleSql.getOrElse(name, "")))
      } catch { case e: Throwable =>
        res.attempted += 1; res.failed += 1; res.failures += s"$name check run: $e"
      }
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    mark("check outputs written")

    // timed phase: a fixed number of whole passes. The traced run
    // alternates untraced and traced passes (u t u t), so its overhead
    // is a measured ratio, not an estimate.
    val n = math.max(if (res.trace) 3 else 1, math.round(res.seconds / PassSeconds).toInt)
    (0 until n).foreach { i =>
      val traced = res.trace && i % 2 == 1
      if (traced) tracer.attach()
      runPass(traced)
      if (traced) tracer.detach()
    }

    val good = ops.filter(_.ok)
    res.attempted += ops.size
    res.failed += ops.count(!_.ok)
    val untraced = passes.filterNot(_.traced).toSeq
    val perQuery = good.groupBy(_.name).map { case (n, xs) => n -> median(xs.map(_.query.dur / 1000).toSeq) }
    val perBuild = good.groupBy(_.name).map { case (n, xs) => n -> median(xs.map(_.build.dur).toSeq) }
    res.endToEnd("wall_s") = median(untraced.map(_.wallMs / 1000))
    res.endToEnd("query_p50_s") = median(perQuery.values.toSeq)
    res.endToEnd("query_p85_s") = percentile(perQuery.values.toSeq, 0.85)
    // the least pass: JIT compiler and concurrent GC threads burn CPU in
    // bursts that land in some passes and not others
    res.endToEnd("cpu_s") = untraced.map(_.cpuS).min
    res.endToEnd("live_heap_mb") = median(untraced.map(_.heapMb))
    // queries per second over the untraced passes' own wall time (the
    // forced GC at each pass end is outside it): on this workload a
    // restatement of wall_s, kept because the stream's drain rate needs it
    res.endToEnd("events_per_s") =
      good.count(o => !passes(o.pass).traced) / untraced.map(_.wallMs / 1000).sum
    res.endToEnd("lag_p50_ms") = median(perBuild.values.toSeq)
    res.endToEnd("lag_p90_ms") = percentile(perBuild.values.toSeq, 0.9)
    passes.foreach { p =>
      res.detail += f"""{"pass":${p.n},"wall_s":${p.wallMs / 1000}%.4f,"cpu_s":${p.cpuS}%.3f,"live_heap_mb":${p.heapMb}%.1f,"traced":${p.traced}}"""
    }
    perQuery.toSeq.sortBy(-_._2).foreach { case (n, t) =>
      val each = good.filter(_.name == n).map(o => f"${o.query.dur / 1000}%.4f").mkString("[", ",", "]")
      res.detail += f"""{"query":"$n","latency_s":$t%.4f,"build_ms":${perBuild(n)}%.2f,"per_pass_s":$each}"""
    }

    if (res.trace) traceBatch(tracer, good.filter(o => passes(o.pass).traced).toSeq
      .map(o => (o.name, o.query, o.build, o.action)),
      passes.filter(_.traced).map(_.wallMs).toSeq, untraced.map(_.wallMs))

    res.provenance("check_data_dir") = dir
    spark.stop()
  }

  private def traceBatch(tracer: Tracer, ops: Seq[(String, Span, Span, Span)],
                         traced: Seq[Double], untraced: Seq[Double]): Unit = {
    val per = traced.size.toDouble
    // the action's own client time is left unattributed: what the
    // engine spans do not explain inside the noop write call
    res.perLayer ++= tracer.layers(ops.map { case (_, q, b, a) => (q, a, Seq(b)) }, per)
    res.perLayer("queries.build_s") = ops.map(_._3.dur).sum / 1000 / per
    res.perLayer("trace.overhead_pct") = (median(traced) / median(untraced) - 1) * 100
    // layers only the stream has
    Seq("streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
      "streaming.latest_offset_ms", "streaming.state_commit_ms", "streaming.add_batch_ms", "sink.write_ms",
      "streaming.state_rows", "streaming.state_mem_bytes", "streaming.rows_dropped_by_watermark",
      "streaming.backlog_lines_max", "bench.gen_late_max_ms").foreach(res.perLayer(_) = 0.0)
    // per query: self time by layer (mean over traced passes), 20 longest
    ops.groupBy(_._1).toSeq.map { case (n, xs) => (n, xs.map(_._2.dur).sum / xs.size, xs) }
      .sortBy(-_._2).take(20).foreach { case (n, w, xs) =>
        val self = xs.flatMap { case (_, q, b, _) => tracer.selfTimes(q, Seq(b)) }
          .groupMapReduce(_._1)(_._2 / xs.size)(_ + _)
        res.detail += s"""{"top_query":"$n","wall_ms":$w,"self_ms":${self.map { case (k, v) => f""""$k":$v%.1f""" }.mkString("{", ",", "}")}}"""
      }
    // spans for the trace file: query -> build/action -> sql -> catalyst/job -> stage
    ops.foreach { case (_, q, b, a) =>
      val qi = res.spans.size
      res.spans += q
      val bi = res.spans.size; res.spans += b.copy(parent = qi)
      val ai = res.spans.size; res.spans += a.copy(parent = qi)
      def under(s: Span) = if (s.start < b.end) bi else ai
      def add(s: Span, parent: Int) = { res.spans += s.copy(parent = parent); (s, res.spans.size - 1) }
      def innermost(hosts: Seq[(Span, Int)], s: Span, orElse: => Int) =
        hosts.filter { case (h, _) => h.start <= s.start && s.start <= h.end }.sortBy(-_._1.start)
          .headOption.map(_._2).getOrElse(orElse)
      val sqls = tracer.spansIn(tracer.sql, q).map(s => add(s, under(s)))
      tracer.spansIn(tracer.catalyst, q).foreach(s => add(s.copy(name = s"catalyst.${s.name}"), innermost(sqls, s, under(s))))
      val jobs = tracer.spansIn(tracer.jobs, q).map(s => add(s, innermost(sqls, s, under(s))))
      tracer.spansIn(tracer.stages, q).foreach(s => add(s, innermost(jobs, s, innermost(sqls, s, under(s)))))
    }
  }

  // ------------------------------------------------------------ stream

  def stream(gen: String): Unit = new TradeStream(dataDir, workDir, res, setup).run(gen)
}

/** Interval arithmetic on spans (milliseconds). */
object Intervals {
  /** Length of `w` covered by the union of `xs`. */
  def covered(w: Span, xs: Seq[Span]): Double = {
    val clipped = xs.map(s => (math.max(s.start, w.start), math.min(s.end, w.end))).filter(p => p._2 > p._1).sortBy(_._1)
    var total, curS, curE = 0.0
    var open = false
    clipped.foreach { case (s, e) =>
      if (!open || s > curE) { if (open) total += curE - curS; curS = s; curE = e; open = true }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
