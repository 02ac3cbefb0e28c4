package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import graft.{Ingest, Report}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, greatest, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable

/** What every workload shares: the session, its own work directory, the
  * seed, the tracer and the listeners. */
final case class Ctx(spark: SparkSession, dir: Path, seed: Long, cores: Int,
                     trace: Tracer, jobs: JobStats, streams: StreamStats)

/** One timed loop's result: the workload's typical latency (each
  * workload's definition is in LAYERS.md) and the layer figures the loop
  * saw. */
final case class Outcome(latency: Double, attempted: Int,
                         layers: Map[String, Double] = Map.empty)

/** A workload: `prepare` makes its inputs from the seed (repeatable, into
  * a fresh directory), `warmup` preloads and runs untimed ops, `timed`
  * runs the measured loop, `check` lists correctness failures (each one a
  * failed op). */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  def timed(seconds: Double): Outcome
  def check(): Seq[String]
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }
  def seconds(f: => Any): Double = time(f)._2

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally s.close()
    }

  def parquetFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  def wipe(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

import Stats._

/** Log-set presets, one per slow-log workload. */
object Specs {
  /** Batch ingest: a week of a busy server over a dozen rotated files. */
  val ingest: LogSpec = LogSpec(events = 60000, files = 12, sizeSkew = 0.8,
    days = 7, templates = 400, zipf = 1.1, inListMax = 40,
    multiLineShare = 0.2, extendedShare = 0.5, useShare = 0.05,
    adminShare = 0.03, sampledShare = 0.1)
  /** QAN warehouse: two weeks (14 date partitions), more skewed digests. */
  val qanBase: LogSpec = LogSpec(events = 40000, files = 14, sizeSkew = 0.3,
    days = 14, templates = 200, zipf = 1.2, inListMax = 20,
    multiLineShare = 0.2, extendedShare = 0.5, useShare = 0.05,
    adminShare = 0.03, sampledShare = 0.1)
  /** One fresh append batch for the QAN warehouse: one file, same span. */
  val qanAppend: LogSpec = qanBase.copy(events = 2000, files = 1)
  /** One tail file: a few dozen events within a day. */
  val tailFile: LogSpec = qanBase.copy(events = 40, files = 1, days = 1,
    templates = 50)
}

/** Ingest layers end to end: `Ingest.run` into a `parquet:` warehouse,
  * overwrite, over a seeded rotated log directory. */
final class IngestBatch(ctx: Ctx) extends Workload {
  private val logDir = ctx.dir.resolve("log")
  private val wh = ctx.dir.resolve("warehouse")
  private var gen: GenLog = _
  private def cfg = Ingest.Config(slowLogPath = logDir.toString,
    dsn = "parquet:" + wh, mode = "overwrite")

  def prepare(): Unit = {
    wipe(logDir)
    gen = LogGen.generate(Specs.ingest, ctx.seed, logDir)
  }
  /** Six batches: JIT keeps speeding the parse up over the first several. */
  def warmup(): Unit = (1 to 6).foreach(_ => Ingest.run(ctx.spark, cfg))

  /** A fixed number of batches for `seconds` (~1.1 s each on a 4-vCPU host), so every
    * run times the same work. */
  def timed(seconds: Double): Outcome = {
    val times = (1 to math.max(3, math.round(seconds / 1.1).toInt)).map(_ =>
      Stats.seconds(ctx.trace("sources.ingest_run")(Ingest.run(ctx.spark, cfg))))
    System.err.println("[perfbench] ingest batches " + times.map(x => f"$x%.3f").mkString(" "))
    Outcome(median(times), times.size,
      Map("ingest_eps" -> gen.events / median(times)))
  }

  def check(): Seq[String] = Checks.warehouseTotals(ctx.spark, wh, gen.byDbUser(),
    gen.events, "ingest_batch")
}

/** QAN reads over a multi-day warehouse with ~1 append in 10 ops. */
final class QanMixed(ctx: Ctx) extends Workload {
  import QanMixed._
  private val wh = ctx.dir.resolve("warehouse")
  private var base: GenLog = _
  private val appended = mutable.ArrayBuffer.empty[GenLog]
  private val loads = mutable.ArrayBuffer.empty[(Report.Config, Int, Array[Row])]
  private val seenDigests = mutable.HashSet.empty[String]
  private val rng = new SplittableRandom(ctx.seed ^ 0x5eedL)
  val appendTimes = mutable.ArrayBuffer.empty[Double]
  val byView = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]

  def prepare(): Unit = {
    wipe(ctx.dir)
    base = LogGen.generate(Specs.qanBase, ctx.seed, ctx.dir.resolve("log"))
  }

  /** Preload the warehouse, then one report of each view. */
  def warmup(): Unit = {
    Ingest.run(ctx.spark, Ingest.Config(slowLogPath = base.dir.toString,
      dsn = "parquet:" + wh, mode = "overwrite"))
    Views.foreach(v => report(v))
  }

  private def day(offset: Int): String =
    java.time.LocalDate.parse(Specs.qanBase.startDay).plusDays(offset).toString

  /** A seeded report over a seeded `WindowDays` window of the warehouse. */
  def config(view: String): Report.Config = {
    val from = rng.nextInt(Specs.qanBase.days - WindowDays + 1)
    val c = Report.Config(source = "parquet:" + wh, report = view,
      since = Some(day(from)), until = Some(day(from + WindowDays)))
    view match {
      case "compare" | "drift" => c.copy(splitAt = Some(day(from + WindowDays / 2)))
      case "digest" => c.copy(digestId = Some(base.sampleDigest(rng)))
      case _ => c
    }
  }

  /** One report: build + collect. Returns its latency. */
  def report(view: String): Double = {
    val c = config(view)
    val (rows, t) = time(ctx.trace(s"qan.$view") {
      val df = ctx.trace("report.plan") {
        val d = Report.run(ctx.spark, c)
        d.queryExecution.executedPlan
        d
      }
      ctx.trace("report.exec")(df.collect())
    })
    if (view == "load") loads += ((c, appended.size, rows))
    if (rows.nonEmpty && rows.head.schema.fieldNames.contains("digest"))
      rows.foreach(r => Option(r.getAs[String]("digest")).foreach(seenDigests += _))
    byView.getOrElseUpdate(view, mutable.ArrayBuffer.empty) += t
    t
  }

  /** One append op: a fresh one-file batch, `-mode append`. */
  def append(): Double = {
    val i = appended.size
    val g = LogGen.generate(Specs.qanAppend, ctx.seed * 1000003L + i,
      ctx.dir.resolve(s"append-$i"))
    val t = Stats.seconds(ctx.trace("sources.append")(Ingest.run(ctx.spark,
      Ingest.Config(slowLogPath = g.dir.toString, dsn = "parquet:" + wh,
        mode = "append"))))
    appended += g
    appendTimes += t
    t
  }

  def files: Long = parquetFiles(wh)

  def timed(seconds: Double): Outcome = {
    byView.clear()
    var ops = 0
    // whole cycles (~5 s each on a 4-vCPU host) of the nine views in a seeded order,
    // one append at a seeded position; a fixed count for `seconds`, so
    // every run times the same mix
    for (_ <- 1 to math.max(1, math.ceil(seconds / 5).toInt)) {
      val order = Views.sortBy(_ => rng.nextDouble())
      val at = rng.nextInt(order.size + 1)
      (order.take(at) ++ Seq("append") ++ order.drop(at)).foreach { op =>
        ctx.trace.op = ops
        if (op == "append") append() else report(op)
        ops += 1
      }
    }
    byView.toSeq.sortBy(_._1).foreach { case (v, t) =>
      System.err.println(s"[perfbench] qan $v " + t.map(x => f"$x%.3f").mkString(" ")) }
    // typical report latency: the mean over the nine views of each view's
    // median (the pooled median of a nine-mode mix jumps between modes)
    Outcome(byView.values.map(t => median(t.toSeq)).sum / byView.size, ops,
      Map("append_p50_s" -> median(appendTimes.toSeq)))
  }

  def check(): Seq[String] = {
    val spark = ctx.spark
    val whDigests = Report.wideFor(spark, Report.Config(source = "parquet:" + wh))
      .select("digest").distinct().collect().map(_.getString(0)).toSet
    val missing = seenDigests.filterNot(whDigests)
    val digestFailures =
      if (missing.isEmpty) Nil
      else Seq(s"qan_mixed: ${missing.size} reported digests absent from the warehouse")
    val loadFailures = loads.toSeq.flatMap { case (c, nAppended, rows) =>
      val expected = (Seq(base) ++ appended.take(nAppended))
        .map(_.byDbUser(c.since, c.until))
        .foldLeft(Map.empty[(String, String), Totals]) { (acc, m) =>
          m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.get(k).map(_ + v).getOrElse(v)) }
        }
      Checks.loadReport(rows, expected).map(e =>
        s"qan_mixed: load ${c.since.get}..${c.until.get} after $nAppended appends: $e")
    }
    digestFailures ++ loadFailures
  }
}

object QanMixed {
  /** Report window: half the warehouse's day span, at a seeded offset. */
  val WindowDays = 7
  val Views: Seq[String] = Seq("profile", "digest", "sparkline", "load",
    "percentiles", "compare", "anomaly", "drift", "pareto")
}

/** The registered board entries over seeded board tables, profiled entry
  * by entry in the traced sweep. */
final class Board(ctx: Ctx) {
  import Board._
  private val data = ctx.dir.resolve("data").toString
  private val out = ctx.dir.resolve("out")

  def prepare(): Unit = {
    wipe(ctx.dir)
    BoardData.generate(ctx.spark, ctx.seed, data, Scale, Docs, Vectors)
  }

  /** Untimed pass writing each entry's result as parquet for the oracle
    * check, plus the oracle SQL itself. */
  def warmup(): Unit = {
    Entries.foreach { e =>
      val t = Stats.seconds(graft.SparkEntry.queries(e)(ctx.spark, data).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(e).toString))
      System.err.println(f"[perfbench] board warm-up $e%-20s $t%.3f s")
    }
    val sql = graft.SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"), Entries.map(e =>
      "  " + Json.str(e) + ": " + Json.str(sql(e))).mkString("{\n", ",\n", "\n}\n")
      .getBytes("UTF-8"))
  }

  /** build → plan → noop write of one entry, job group set around it. */
  def entry(e: String): (Double, Double, Double) = {
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(s"board.$e", e, interruptOnCancel = false)
    try {
      val (df, b) = time(ctx.trace(s"board.$e.build")(
        graft.SparkEntry.queries(e)(ctx.spark, data)))
      val p = Stats.seconds(ctx.trace(s"board.$e.plan")(df.queryExecution.executedPlan))
      val x = Stats.seconds(ctx.trace(s"board.$e.exec")(noop(df)))
      (b, p, x)
    } finally sc.clearJobGroup()
  }
}

object Board {
  val Entries: Seq[String] = Seq("q05_join_multi", "q26_jaccard_pairs",
    "q40_minhash_dedup", "q53_ivf_recall", "q67_dedup_clusters", "q111_bm25",
    "q118_pagerank", "q194_mad_outliers", "q209_two_hop", "q236_dbscan")
  val Scale = 0.005
  val Docs = 500
  val Vectors = 500
  /** Traced classification: below this core utilization (task seconds ÷
    * wall × cores) an entry is job-bound; otherwise shuffle-bound when it
    * writes at least this many shuffle MB per task second, else
    * compute-bound. */
  val JobBoundUtil = 0.3
  val ShuffleMbPerTaskS = 2.0
}

/** Open-loop tail: files land at a fixed rate while one `Ingest.runTail`
  * query, started by the warm-up and kept running like a log shipper's,
  * streams them into a `parquet:` sink. `timedLoops` is the length of
  * each timed loop the run will make; `prepare` makes exactly the files
  * the warm-up and those loops land. */
final class Tail(ctx: Ctx, timedLoops: Seq[Double]) extends Workload {
  import Tail.{PeriodMs, TriggerMs, WarmupFiles, filesFor}
  private val staging = ctx.dir.resolve("staging")
  private val in = ctx.dir.resolve("in")
  private val sink = ctx.dir.resolve("sink")
  private val ckpt = ctx.dir.resolve("ckpt")
  private var fileEvents: IndexedSeq[Int] = IndexedSeq.empty
  private var landedFiles = 0
  private var query: Option[StreamingQuery] = None

  def prepare(): Unit = {
    wipe(ctx.dir)
    Files.createDirectories(staging)
    // one seeded log file each
    fileEvents = (0 until WarmupFiles + timedLoops.map(filesFor).sum).map { i =>
      val g = LogGen.generate(Specs.tailFile, ctx.seed * 7919L + i, ctx.dir.resolve("gen"))
      Files.move(g.files.head, staging.resolve(f"slow-$i%05d.log"))
      g.events.toInt
    }
  }

  /** Start the query, let it take one file on its own (its first
    * micro-batch is an order of magnitude slower than the steady ones),
    * then land the other warm-up files at the fixed rate. */
  def warmup(): Unit = {
    Files.createDirectories(in)
    query = Some(Ingest.runTail(ctx.spark, Ingest.Config(slowLogPath = in.toString,
      dsn = "parquet:" + sink, checkpoint = Some(ckpt.toString), tail = true),
      Some(Trigger.ProcessingTime(TriggerMs))))
    stream(1)
    stream(WarmupFiles - 1)
  }

  def timed(seconds: Double): Outcome = {
    val n = filesFor(seconds)
    require(landedFiles + n <= fileEvents.size, s"tail: no files made for a $seconds s loop")
    stream(n)
  }

  def stop(): Unit = {
    query.foreach(_.stop())
    query = None
  }

  /** Land `n` files at the fixed rate and wait until they are committed;
    * lag per file = commit of its micro-batch − its scheduled landing
    * time. */
  private def stream(n: Int): Outcome = {
    val q = query.getOrElse(sys.error("tail: warm-up did not start the query"))
    val first = landedFiles
    org.apache.spark.perfbench.ListenerBusDrain(ctx.spark.sparkContext)
    ctx.streams.reset()
    val scheduled = new Array[Long](n)
    val late = new Array[Double](n)
    // micro-batches start on multiples of TriggerMs; files land half a
    // period off that grid, so each batch takes the files of one interval
    val t0 = (System.currentTimeMillis() / TriggerMs + 2) * TriggerMs + PeriodMs / 2
    for (i <- 0 until n) {
      scheduled(i) = t0 + i * PeriodMs
      val wait = scheduled(i) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val name = f"slow-${first + i}%05d.log"
      Files.move(staging.resolve(name), in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      late(i) = (System.currentTimeMillis() - scheduled(i)) / 1e3
    }
    q.processAllAvailable()
    landedFiles += n
    org.apache.spark.perfbench.ListenerBusDrain(ctx.spark.sparkContext)
    val names = (first until first + n).map(i => f"slow-$i%05d.log")
    val batchOf = Tail.batchOfFile(ckpt).filter { case (f, _) => names.contains(f) }
    val progress = ctx.streams.all.filter(_.rows > 0)
    val endOf = progress.map(b => b.batchId -> b.endMs).toMap
    val lags = names.indices.map { i =>
      val b = batchOf.getOrElse(names(i), sys.error(s"tail: ${names(i)} in no micro-batch"))
      (endOf(b) - scheduled(i)) / 1e3
    }
    val lateMaxS = late.max
    System.err.println("[perfbench] tail lags " + lags.map(x => f"$x%.3f").mkString(" "))
    val perBatch = batchOf.values.groupBy(identity).values.map(_.size.toDouble).toSeq
    // backlog at each commit: files landed by then but not yet committed
    val backlog = progress.map { b =>
      (0 until n).count(i => scheduled(i) + late(i) * 1e3 <= b.endMs &&
        batchOf(names(i)) > b.batchId).toDouble
    }
    def dur(k: String) = median(progress.map(_.durations.getOrElse(k, 0L) / 1e3))
    Outcome(median(lags), n, Map(
      "tail.lag_p90_s" -> quantile(lags, 0.9),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.files_per_batch" -> median(perBatch),
      "streaming.batch_p50_s" -> dur("triggerExecution"),
      "streaming.plan_s" -> dur("queryPlanning"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.offsets_s" -> median(progress.map(b =>
        (b.durations.getOrElse("latestOffset", 0L) + b.durations.getOrElse("walCommit", 0L)) / 1e3)),
      "streaming.backlog_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "tail.generator_late_max_s" -> lateMaxS))
  }

  def check(): Seq[String] = {
    stop()
    val rows = ctx.spark.read.parquet(sink.toString).count()
    val landed = fileEvents.take(landedFiles).map(_.toLong).sum
    if (rows == landed) Nil
    else Seq(s"tail: sink holds $rows rows, $landed events landed")
  }
}

object Tail {
  /** One file every 100 ms (10 files/s, ~400 events/s). */
  val PeriodMs = 100L
  /** Micro-batch trigger interval: ten files a batch. */
  val TriggerMs = 1000L
  val WarmupFiles = 51

  /** Files one timed loop of `seconds` lands. */
  def filesFor(seconds: Double): Int = math.max(1, math.ceil(seconds * 1000 / PeriodMs).toInt)

  /** file name → micro-batch id, from the file source's checkpoint log
    * (plain and compacted entries). */
  def batchOfFile(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val Entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path]).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Entry.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
    finally s.close()
  }
}

/** Correctness checks shared by the slow-log workloads. */
object Checks {
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 + 1e-9 * math.abs(b)

  /** Sink rows and per-(db, user) sums equal the generator's totals. */
  def warehouseTotals(spark: SparkSession, wh: Path,
                      expected: Map[(String, String), Totals], events: Long,
                      label: String): Seq[String] = {
    val got = spark.read.parquet(wh.toString).groupBy("db", "user")
      .agg(count(lit(1)), sum(greatest(col("rate_limit"), lit(1L))), sum("query_time"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val rows = got.values.map(_._1).sum
    val count_ = if (rows == events) Nil else Seq(s"$label: $rows rows, expected $events")
    val keys = (got.keySet ++ expected.keySet).toSeq.sortBy(_.toString)
    count_ ++ keys.flatMap { k =>
      val e = expected.getOrElse(k, Totals(0, 0, 0))
      got.get(k) match {
        case Some((c, cs, t)) if c == e.cnt && cs == e.cntScaled && close(t, e.timeUs / 1e6) => None
        case g => Some(s"$label: $k holds $g, expected $e")
      }
    }
  }

  /** Every rollup row of a `load` report against the expected totals. */
  def loadReport(rows: Array[Row], expected: Map[(String, String), Totals]): Seq[String] = {
    val rolled = expected.toSeq.flatMap { case ((db, u), t) =>
      Seq((db, u) -> t, (db, null) -> t, (null, null) -> t)
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val got = rows.map(r => (r.getAs[String]("db"), r.getAs[String]("user")) -> r).toMap
    val extra = (got.keySet -- rolled.keySet).map(k => s"unexpected row $k")
    extra.toSeq ++ rolled.toSeq.flatMap { case (k, e) =>
      got.get(k) match {
        case Some(r) if r.getAs[Long]("cnt") == e.cnt &&
            r.getAs[Long]("cnt_scaled") == e.cntScaled &&
            close(r.getAs[Double]("total_time"), e.timeUs / 1e6) => None
        case g => Some(s"$k: got ${g.map(_.toString)}, expected $e")
      }
    }
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
