package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** One benchmark run in one JVM, driven through the library's public entry
  * points only (GraftSession.builder, Layouts.all, SparkEntry.queries and
  * oracleSql, Staging.stagingCosts). perfbench/run.py generates the inputs,
  * launches this, checks the outputs and prints the metrics.
  *
  * Shape: session -> setup (the workload's Layouts entries staged on each
  * of the given copies of the input) -> one cold pass -> warm passes until
  * --seconds have elapsed. A pass calls every op once, serially: the build
  * call `SparkEntry.queries(op)(spark, dir)` (driver loops and streaming
  * replays run eagerly here), then the force call (the result written as
  * parquet, as a pipeline stage delivers it; every output column is
  * evaluated), then `clearCache()`. The last pass's results are what
  * run.py checks against the oracle.
  *
  * With --trace 1 the warm passes mix untraced and traced ones (listeners
  * attached); traced passes feed the per-layer metrics and the span tree,
  * and the ratio of the two pass medians is the trace overhead. */
object Main {

  final case class OpRun(op: String, opSpan: Int, buildSpan: Int, forceSpan: Int,
      buildS: Double, forceS: Double)
  final case class PassRun(idx: Int, traced: Boolean, span: Int, wallS: Double,
      ops: Seq[OpRun])

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(du).sum
    else if (f.isFile) f.length()
    else 0L

  /** Staging tags recorded (new, or re-staged with a new cost) since `before`. */
  private def stagedSince(before: Map[String, Double]): Seq[String] =
    graft.sources.Staging.stagingCosts.filter { case (k, v) => !before.get(k).contains(v) }
      .keys.toSeq.sorted

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ops = a("ops").split(",").toSeq
    val layouts = a.getOrElse("layouts", "").split(",").filter(_.nonEmpty).toSeq
    val dataDirs = a("data").split(",").toSeq
    val data = dataDirs.head
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = a("out")
    val cores = a("cores").toInt
    val minWarm = a("min-warm").toInt
    val launchedMs = a("launched-ms").toDouble

    val spans = new Spans
    val runSpan = spans.add("run", launchedMs, Double.NaN, -1, -1)
    val spark = graft.GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = Clock.ms()
    spans.add("session", launchedMs, readyMs, runSpan, -1)
    val sessionS = (readyMs - launchedMs) / 1e3

    // ---- setup: the workload's Layouts entries, staged on every copy ----
    val layoutFns = graft.Layouts.all.toMap
    val unknown = layouts.filterNot(layoutFns.contains)
    require(unknown.isEmpty, s"unknown Layouts entries: ${unknown.mkString(",")}")
    val stagedRoots = Seq(new File(a("warehouse")), new File(System.getProperty("java.io.tmpdir")))
    val inputBytes = du(new File(data))
    var writtenBytes = 0L
    val setupSpan = spans.open("setup", runSpan, -1)
    val stagingPerCopy: Seq[Map[String, Double]] = dataDirs.zipWithIndex.map { case (d, i) =>
      val before = stagedRoots.map(du).sum
      val times = layouts.map { e =>
        val sp = spans.open(s"layout:$e", setupSpan, -1)
        layoutFns(e)(spark, d)
        e -> spans.close(sp)
      }.toMap
      if (i == 0) writtenBytes = stagedRoots.map(du).sum - before
      times
    }
    spark.catalog.clearCache()
    spans.close(setupSpan)
    log(f"session $sessionS%.2f s; staging per copy: " +
      stagingPerCopy.map(_.values.sum).map(t => f"$t%.2f").mkString(" ") +
      "; first copy: " + stagingPerCopy.head.map { case (k, v) => f"$k $v%.2f" }.mkString(", "))
    val costsBefore = graft.sources.Staging.stagingCosts

    // ---- passes ----
    val queries = graft.SparkEntry.queries
    val missing = ops.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown ops: ${missing.mkString(",")}")
    val recorder = if (traced) Some(new Recorder) else None
    val sc = spark.sparkContext
    var attempted = 0
    var failed = 0

    def runPass(idx: Int, withTrace: Boolean): PassRun = {
      recorder.filter(_ => withTrace).foreach { r =>
        sc.addSparkListener(r); spark.streams.addListener(r.streaming)
      }
      val passSpan = spans.open("pass", runSpan, idx)
      val runs = ops.map { op =>
        val opSpan = spans.open(s"op:$op", passSpan, idx)
        val staged0 = graft.sources.Staging.stagingCosts
        attempted += 1
        var ok = true
        val bSpan = spans.open("build", opSpan, idx)
        val df: Option[DataFrame] =
          try Some(queries(op)(spark, data))
          catch { case e: Throwable => ok = false; log(s"$op build failed: $e"); None }
        val buildS = spans.close(bSpan)
        val fSpan = spans.open("force", opSpan, idx)
        df.foreach { d =>
          try d.write.mode("overwrite").parquet(s"$out/results/$op")
          catch { case e: Throwable => ok = false; log(s"$op force failed: $e") }
        }
        val forceS = spans.close(fSpan)
        spark.catalog.clearCache()
        spans.close(opSpan)
        val stagedHere = stagedSince(staged0)
        if (stagedHere.nonEmpty) log(s"$op staged during pass $idx: ${stagedHere.mkString(",")}")
        if (!ok) failed += 1
        OpRun(op, opSpan, bSpan, fSpan, buildS, forceS)
      }
      val wallS = spans.close(passSpan)
      recorder.filter(_ => withTrace).foreach { r =>
        Recorder.drain(sc)
        sc.removeSparkListener(r); spark.streams.removeListener(r.streaming)
      }
      PassRun(idx, withTrace, passSpan, wallS, runs)
    }

    val cold = runPass(0, traced)
    log(f"cold pass ${cold.wallS}%.3f s: " +
      cold.ops.map(o => f"${o.op} ${o.buildS}%.2f+${o.forceS}%.2f").mkString(", "))
    val warm = scala.collection.mutable.ArrayBuffer[PassRun]()
    val warmStart = System.nanoTime()
    // trace mode runs untraced/traced passes in the order u t t u u t t u ...,
    // so neither side sits later in the JIT warm-up; it needs twice the passes
    val need = if (traced) 2 * minWarm else minWarm
    while (warm.size < need || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      val idx = warm.size + 1
      warm += runPass(idx, traced && (idx % 4 == 2 || idx % 4 == 3))
    }
    log(s"warm passes: ${warm.map(p => f"${p.wallS}%.3f").mkString(" ")}")
    log("last warm pass: " +
      warm.last.ops.map(o => f"${o.op} ${o.buildS}%.2f+${o.forceS}%.2f").mkString(", "))
    val peakRssMb = vmHwmMb()
    val misses = stagedSince(costsBefore)
    if (misses.nonEmpty) log(s"staged during timed passes: ${misses.mkString(",")}")

    val oracle = graft.SparkEntry.oracleSql
    spans.close(runSpan)

    val layer: Map[String, Double] = recorder.map { r =>
      Recorder.drain(sc)
      val tracedPasses = warm.filter(_.traced).toSeq
      val untracedPasses = warm.filterNot(_.traced).toSeq
      val an = new Analysis(r, spans, cores)
      val perPass = tracedPasses.map(an.passMetrics)
      an.addEventSpans(cold +: tracedPasses)
      val keys = perPass.flatMap(_.keys).distinct
      val med = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
      val staging = layouts.map(e => s"staging.${e}_s" -> median(stagingPerCopy.map(_(e)))).toMap
      val m = med ++ staging ++ Map(
        "staging.written_mb" -> writtenBytes / 1048576.0,
        "staging.misses" -> misses.size.toDouble,
        "trace_overhead" -> median(tracedPasses.map(_.wallS)) / median(untracedPasses.map(_.wallS)))
      an.writeSpans(a("trace-dir"), m)
      m
    }.getOrElse(Map.empty)

    val json = Json.obj(
      "session_s" -> sessionS,
      "staging_s" -> stagingPerCopy.map(_.values.sum),
      "written_bytes" -> writtenBytes,
      "input_bytes" -> inputBytes,
      "cold_pass_s" -> cold.wallS,
      "warm_pass_s" -> warm.filterNot(_.traced).map(_.wallS).toSeq,
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "misses" -> misses,
      "oracle_sql" -> ops.flatMap(o => oracle.get(o).map(o -> _)).toMap,
      "layer" -> layer)
    Files.writeString(Paths.get(s"$out/result.json"), json)
    spark.stop()
  }
}

/** Attribution of the recorded listener events to ops and passes, by time
  * window (ops run serially, so a job, stage or micro-batch that starts
  * inside an op's window belongs to that op). */
final class Analysis(r: Recorder, spans: Spans, cores: Int) {
  import scala.jdk.CollectionConverters._
  private val jobs = r.jobs.asScala.toSeq.sortBy(_.submit)
  private val stages = r.stages.asScala.toSeq.sortBy(_.submit)
  private val sqls = r.sqlStarts.asScala.toSeq.map(_.doubleValue)
  private val batches = r.batches.asScala.toSeq.sortBy(_.start)

  private def in(t: Double, s: Span) = t >= s.start && t < s.end

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var cur = lo
    iv.map { case (a, b) => (a max lo, b min hi) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - (a max cur); cur = b }
      }
    total
  }

  def passMetrics(p: Main.PassRun): Map[String, Double] = {
    val pass = spans(p.span)
    val st = stages.filter(s => in(s.submit, pass))
    val bs = batches.filter(b => in(b.start, pass))
    val trig = bs.map(_.triggerMs.toDouble)
    // state size at the end of each streaming query: its last batch's rows
    val lastPerQuery = bs.groupBy(_.queryId).values.map(_.maxBy(_.start))
    val gapS = p.ops.map { o =>
      val s = spans(o.opSpan)
      val busy = covered(st.filter(x => in(x.submit, s)).map(x => (x.submit, x.end)), s.start, s.end)
      (s.end - s.start - busy) / 1e3
    }.sum
    val mb = 1048576.0
    Map(
      "operators.build_s" -> p.ops.map(_.buildS).sum,
      "operators.force_s" -> p.ops.map(_.forceS).sum,
      "driver.gap_s" -> gapS,
      "driver.sql_executions" -> sqls.count(in(_, pass)).toDouble,
      "spark.jobs" -> jobs.count(j => in(j.submit, pass)).toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "scan.input_mb" -> st.map(_.inBytes).sum / mb,
      "scan.input_records" -> st.map(_.inRecords).sum.toDouble,
      "exec.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "exec.busy_ratio" -> st.map(_.runMs).sum / 1e3 / (p.wallS * cores),
      "exchange.write_mb" -> st.map(_.shWrite).sum / mb,
      "exchange.read_mb" -> st.map(_.shRead).sum / mb,
      "exchange.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "exec.spill_mb" -> st.map(_.spill).sum / mb,
      "exec.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "stream.batches" -> bs.size.toDouble,
      "stream.batch_ms_p50" -> Main.median(trig),
      "stream.batch_ms_max" -> (if (trig.isEmpty) 0.0 else trig.max),
      "stream.add_batch_ms" -> bs.map(_.addBatchMs).sum.toDouble,
      "stream.wal_commit_ms" -> bs.map(_.walCommitMs).sum.toDouble,
      "stream.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
      "stream.state_mem_mb" -> lastPerQuery.map(_.stateMem).sum / mb,
      "stream.state_commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble
    ) ++ p.ops.flatMap(o => Seq(s"op.${o.op}.build_s" -> o.buildS, s"op.${o.op}.force_s" -> o.forceS))
  }

  /** Jobs, stages and micro-batches of the given passes become spans under
    * the build/force phase they started in (stages under their job). */
  def addEventSpans(passes: Seq[Main.PassRun]): Unit = passes.foreach { p =>
    p.ops.foreach { o =>
      Seq(o.buildSpan, o.forceSpan).map(spans(_)).foreach { phase =>
        val jobSpans = jobs.filter(j => in(j.submit, phase)).map { j =>
          val end = Option(r.jobEnds.get(j.jobId)).map(_.doubleValue).getOrElse(j.submit)
          j -> spans.add(s"job:${j.jobId}", j.submit, end, phase.id, p.idx)
        }
        stages.filter(s => in(s.submit, phase)).foreach { s =>
          val parent = jobSpans.filter(_._1.stageIds.contains(s.stageId))
            .lastOption.map(_._2).getOrElse(phase.id)
          spans.add(s"stage:${s.stageId}.${s.attempt}", s.submit, s.end, parent, p.idx)
        }
        batches.filter(b => in(b.start, phase)).foreach { b =>
          spans.add("batch", b.start, b.start + b.triggerMs, phase.id, p.idx)
        }
      }
    }
  }

  /** spans.json: every span with its self time (duration minus the union of
    * its children); summary.json: the per-layer metrics plus self time
    * summed by span name. */
  def writeSpans(dir: String, metrics: Map[String, Double]): Unit = {
    new java.io.File(dir).mkdirs()
    val all = spans.all
    val children = all.groupBy(_.parent)
    val self = all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> ((s.end - s.start) - covered(kids, s.start, s.end))
    }.toMap
    val rows = all.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "parent" -> s.parent, "pass" -> s.pass, "self_ms" -> self(s.id))
    }
    Files.writeString(Paths.get(s"$dir/spans.json"), rows.mkString("[\n", ",\n", "\n]\n"))
    // the kind of a span is its name up to the first ':' for events
    // (job:<id>, stage:<id>), the full name otherwise (op:<name>, layout:<entry>)
    def kind(n: String) = if (n.startsWith("job:") || n.startsWith("stage:")) n.takeWhile(_ != ':') else n
    val selfByKind = all.groupBy(s => kind(s.name)).map { case (k, ss) =>
      k -> ss.map(s => self(s.id)).sum / 1e3 }
    Files.writeString(Paths.get(s"$dir/summary.json"),
      Json.obj("metrics" -> metrics, "self_s_by_span" -> selfByKind) + "\n")
  }
}

/** Just enough JSON writing for numbers, strings, sequences and maps. */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.sorted.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
