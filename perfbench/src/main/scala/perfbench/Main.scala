package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import graft.{GraftSession, Ingest, Report}
import graft.slowlog.{Fingerprint, SlowLogParser, SlowLogSource, SlowLogTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import Stats._

/**
 * Benchmark JVM. Usage:
 * {{{
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *     --work <dir> [--cores <n>]
 *   perfbench.Main --selftest --work <dir>
 * }}}
 * Prints one JSON object as the last stdout line: `correct`, `attempted`,
 * `failed`, `metrics` (end-to-end metrics untraced, per-layer traced),
 * plus `failures` (messages). Everything else goes to stderr.
 */
object Main {

  val Workloads: Seq[String] = Seq("ingest_batch", "qan_mixed", "tail")

  /** Set-up repetitions whose median `setup_s` reports. */
  val SetupReps = 3

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def main(args: Array[String]): Unit = {
    val opts = args.zip(args.drop(1)).filter(_._1.startsWith("--")).toMap
    val work = Paths.get(opts.getOrElse("--work", sys.error("--work is required")))
    if (args.contains("--selftest")) {
      sys.exit(SelfTest.run(work))
    }
    val workload = opts("--workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts.getOrElse("--trace", "0") == "1"
    val cores = opts.getOrElse("--cores", "4")
    System.exit(run(workload, seed, seconds, traced, cores.toInt, work))
  }

  def session(cores: Int): SparkSession =
    GraftSession.build("perfbench", s"local[$cores]", cores.toString)

  /** `timed` is the length of each timed loop the run will make. */
  def make(name: String, ctx: Ctx, timed: Seq[Double]): Workload = name match {
    case "ingest_batch" => new IngestBatch(ctx)
    case "qan_mixed" => new QanMixed(ctx)
    case "tail" => new Tail(ctx, timed)
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
          cores: Int, work: Path): Int = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores)
    val jobs = new JobStats
    val streams = new StreamStats
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    val tracer = new Tracer(false)
    val ctx = Ctx(spark, work.resolve(workload), seed, cores, tracer, jobs, streams)
    val w = make(workload, ctx, if (traced) Seq(seconds / 2, seconds / 2) else Seq(seconds))
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    // set-up: JVM + session once, input making SetupReps times (median),
    // warm-up once
    val prepS = (1 to SetupReps).map(_ => Stats.seconds(w.prepare()))
    val warmS = Stats.seconds(w.warmup())
    val setupS = sessionS + median(prepS) + warmS
    log(f"setup: session $sessionS%.2f s, prepare ${prepS.map(x => f"$x%.2f").mkString("/")} s, warm-up $warmS%.2f s")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val (outcome, failures) =
      if (!traced) {
        val o = w.timed(seconds)
        (o, w.check())
      } else {
        // half the time untraced, half traced: the ratio is the cost of
        // spans + listeners; then the layer sweep
        val plain = w.timed(seconds / 2)
        org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
        jobs.reset()
        tracer.enabled = true
        val (o, wall) = time(w.timed(seconds / 2))
        org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
        val t = jobs.totals
        metrics ++= Seq(
          "spark.jobs" -> (t.jobs.toDouble, "count"),
          "spark.tasks" -> (t.tasks.toDouble, "count"),
          "spark.task_s" -> (t.taskSeconds, "s"),
          "spark.core_util" -> (t.taskSeconds / (wall * cores), "ratio"),
          "spark.shuffle_write_mb" -> (t.shuffleMb, "MB"),
          "spark.spill_mb" -> (t.spillBytes / 1048576.0, "MB"),
          "spark.gc_s" -> (t.gcMs / 1e3, "s"),
          "spark.task_skew" -> (jobs.taskSkew, "ratio"),
          "trace_overhead_ratio" -> (o.latency / plain.latency, "ratio"))
        val f = w.check()
        metrics ++= Sweep.run(spark, work.resolve("sweep"), seed, cores, tracer, jobs, streams)
        (o, f)
      }
    failures.foreach(f => log("FAIL " + f))
    if (!traced) metrics ++= Seq(
      "setup_s" -> (setupS, "s"),
      "latency_s" -> (outcome.latency, "s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
    outcome.layers.foreach { case (k, v) => log(f"$workload $k = $v%.4f") }
    if (traced) {
      Files.createDirectories(work)
      tracer.write(work.resolve(s"trace-$workload.jsonl"))
      val self = tracer.selfSeconds.toSeq.sortBy(-_._2)
      Files.write(work.resolve(s"trace-$workload-self.tsv"),
        self.map { case (n, s) => f"$n\t$s%.6f" }.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
    val failed = math.min(failures.size, outcome.attempted)
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${num(v)}, \"unit\": ${Json.str(u)}}" }
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${outcome.attempted}, "failed": $failed, "metrics": {${m.mkString(", ")}}, "failures": [${failures.map(Json.str).mkString(", ")}]}""")
    0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/**
 * The traced layer sweep: every per-layer metric, each measured on its
 * home workload's inputs (same seed), so one traced run of any workload
 * prints the whole per-layer set.
 */
object Sweep {
  def run(spark: SparkSession, dir: Path, seed: Long, cores: Int, tracer: Tracer,
          jobs: JobStats, streams: StreamStats): Seq[(String, (Double, String))] = {
    def ctx(name: String) = Ctx(spark, dir.resolve(name), seed, cores, tracer, jobs, streams)
    ingestLayers(spark, ctx("ingest")) ++ qanLayers(ctx("qan")) ++
      boardLayers(ctx("board")) ++ streamLayers(ctx("tail"))
  }

  private def ingestLayers(spark: SparkSession, c: Ctx): Seq[(String, (Double, String))] = {
    val logDir = c.dir.resolve("log")
    val wh = c.dir.resolve("warehouse")
    Stats.wipe(c.dir)
    val g = LogGen.generate(Specs.ingest, c.seed, logDir)
    val tr = c.trace
    val (raw, carry) = time(tr("slowlog.carry_scan")(SlowLogSource.readRaw(spark, logDir.toString)))
    val parse = Stats.seconds(tr("slowlog.parse")(noop(raw)))
    val flat = Stats.seconds(tr("slowlog.flatten")(noop(SlowLogTable.flatten(raw))))
    val ident = Stats.seconds(tr("slowlog.flatten_identity_fp")(
      noop(SlowLogTable.flatten(raw, col("query")))))
    val ingest = Stats.seconds(tr("sources.ingest_run")(Ingest.run(spark,
      Ingest.Config(slowLogPath = logDir.toString, dsn = "parquet:" + wh, mode = "overwrite"))))
    val rows = spark.read.parquet(wh.toString).count()
    // single-thread parser and fingerprint over the largest file
    val text = new String(Files.readAllBytes(g.files.head), UTF_8)
    val (events, parseS) = time(tr("slowlog.parse_1t")(SlowLogParser.parseString(text)))
    val queries = events.map(_.query)
    queries.foreach(Fingerprint.fingerprint) // JIT warm-up
    val fpS = Stats.seconds(tr("slowlog.fingerprint_1t")(queries.foreach(Fingerprint.fingerprint)))
    Seq(
      "slowlog.carry_scan_s" -> (carry, "s"),
      "slowlog.parse_s" -> (parse, "s"),
      "slowlog.flatten_s" -> (flat - parse, "s"),
      "slowlog.fingerprint_share" -> ((flat - ident) / flat, "ratio"),
      "slowlog.parser_eps_1t" -> (events.size / parseS, "events/s"),
      "slowlog.fingerprint_ns" -> (fpS * 1e9 / queries.size, "ns"),
      "slowlog.events_ratio" -> (rows.toDouble / g.events, "ratio"),
      "sources.sink_s" -> (ingest - carry - flat, "s"),
      "sources.bytes_out_per_in" -> (treeBytes(wh).toDouble / g.bytes, "ratio"))
  }

  private def qanLayers(c: Ctx): Seq[(String, (Double, String))] = {
    val q = new QanMixed(c)
    q.prepare()
    q.warmup()
    q.byView.clear()
    val start = q.files
    val readPlan = (1 to 3).map { _ =>
      val cfg = q.config("load")
      Stats.seconds(c.trace("sources.read_plan")(
        Report.wideFor(c.spark, cfg).queryExecution.executedPlan))
    }
    val planBefore = c.trace.all.size
    QanMixed.Views.foreach(q.report)
    val spans = c.trace.all.drop(planBefore)
    def spanMedian(n: String) = {
      val xs = spans.filter(_.name == n).map(_.seconds)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val before = q.files
    q.append()
    val written = q.files - before
    (1 to 2).foreach(_ => q.append())
    QanMixed.Views.map(v => s"qan.$v.p50_s" -> (median(q.byView(v).toSeq), "s")) ++ Seq(
      "report.plan_s" -> (spanMedian("report.plan"), "s"),
      "report.exec_s" -> (spanMedian("report.exec"), "s"),
      "sources.read_plan_s" -> (median(readPlan), "s"),
      "sources.append_s" -> (median(q.appendTimes.toSeq), "s"),
      "sources.files_written" -> (written.toDouble, "count"),
      "sources.files_growth" -> (q.files.toDouble / start, "ratio"))
  }

  private def boardLayers(c: Ctx): Seq[(String, (Double, String))] = {
    val b = new Board(c)
    b.prepare()
    b.warmup() // codegen and first-touch IO; writes the results run.py checks
    org.apache.spark.perfbench.ListenerBusDrain(c.spark.sparkContext)
    c.jobs.reset()
    Board.Entries.flatMap { e =>
      val (build, plan, exec) = b.entry(e)
      org.apache.spark.perfbench.ListenerBusDrain(c.spark.sparkContext)
      val t = c.jobs.group(s"board.$e")
      val wall = build + plan + exec
      val util = t.taskSeconds / (wall * c.cores)
      val cls =
        if (util < Board.JobBoundUtil) "job-bound"
        else if (t.shuffleMb >= Board.ShuffleMbPerTaskS * t.taskSeconds) "shuffle-bound"
        else "compute-bound"
      System.err.println(f"[perfbench] board $e%-20s wall $wall%.3f s  build $build%.3f  plan $plan%.3f  exec $exec%.3f  jobs ${t.jobs}%d  task_s ${t.taskSeconds}%.2f  shuffle ${t.shuffleMb}%.1f MB  util $util%.2f  => $cls")
      Seq(s"board.$e.build_s" -> (build, "s"), s"board.$e.plan_s" -> (plan, "s"),
        s"board.$e.exec_s" -> (exec, "s"), s"board.$e.jobs" -> (t.jobs.toDouble, "count"),
        s"board.$e.task_s" -> (t.taskSeconds, "s"), s"board.$e.shuffle_mb" -> (t.shuffleMb, "MB"))
    }
  }

  private def streamLayers(c: Ctx): Seq[(String, (Double, String))] = {
    val t = new Tail(c, Seq(4.0))
    t.prepare()
    t.warmup()
    val o = try t.timed(4.0) finally t.stop()
    o.layers.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (v, if (k.endsWith("_s")) "s" else "count") }
  }
}
