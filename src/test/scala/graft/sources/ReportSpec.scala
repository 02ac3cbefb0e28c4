package graft.sources

import graft.{Ingest, Report, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The consumption half of the CLI contract: `Ingest -dsn parquet:W`
  * then `Report -source parquet:W` is the reference's full
  * ingest→analyze round trip; every report type returns rows from the
  * same fixture the IngestSpec checks values on. */
class ReportSpec extends AnyFunSuite with SparkTestSession {

  private lazy val warehouse: String = {
    val dir = Files.createTempDirectory("graft-report")
    Files.writeString(dir.resolve("slow001.log"),
      graft.slowlog.SlowLogFixtures.slow001)
    val out = dir.resolve("warehouse").toString
    Ingest.run(spark, Ingest.parseArgs(Array(
      "-slowLogPath", dir.toString, "-dsn", s"parquet:$out")))
    s"parquet:$out"
  }

  test("parseArgs: flags, defaults, validation") {
    val c = Report.parseArgs(Array("-source", "parquet:/w", "-report",
      "apdex", "-top", "5", "-apdexT", "0.25"))
    assert(c.source == "parquet:/w" && c.report == "apdex")
    assert(c.top == 5 && c.apdexT.contains(0.25))
    assert(Report.parseArgs(Array("-source", "x")).report == "profile")
    intercept[IllegalArgumentException](Report.parseArgs(Array("-bogus", "x")))
    intercept[IllegalArgumentException](Report.parseArgs(Array.empty))
  }

  test("parseArgs: a bad number names its flag") {
    for (flag <- Seq("-top", "-apdexT", "-threshold")) {
      val e = intercept[IllegalArgumentException](
        Report.parseArgs(Array("-source", "x", flag, "x")))
      assert(e.getMessage.contains(flag) && e.getMessage.contains("'x'"), e.getMessage)
    }
  }

  test("a warehouse of a log without events reports an empty profile") {
    val dir = Files.createTempDirectory("graft-report-empty")
    Files.writeString(dir.resolve("banner.log"),
      "/usr/sbin/mysqld, Version: 8.0.36 (MySQL Community Server - GPL). started with:\n" +
      "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock\n" +
      "Time                 Id Command    Argument\n")
    val out = dir.resolve("warehouse").toString
    Ingest.run(spark, Ingest.parseArgs(Array(
      "-slowLogPath", dir.toString, "-dsn", s"parquet:$out")))
    val rows = Report.run(spark, Report.Config(source = s"parquet:$out",
      report = "profile")).collect()
    assert(rows.isEmpty)
  }

  test("pareto report: head covers the threshold, crossing digest included") {
    val rows = Report.run(spark, Report.Config(source = warehouse,
      report = "pareto", threshold = 0.5)).collect()
    assert(rows.nonEmpty)
    // the last row CROSSES the threshold: its cum_share ≥ 0.5, and
    // every earlier row is strictly below it
    val shares = rows.map(_.getAs[Double]("cum_share"))
    assert(shares.last >= 0.5)
    assert(shares.dropRight(1).forall(_ < 0.5))
  }

  test("histogram report: equi-depth buckets conserve mass, bounds ascend") {
    // the fixture has 3 queries: 2 bins → sizes 2,1 (ntile remainder
    // rule; asking for more bins than rows yields one bin per row)
    val rows = Report.run(spark, Report.Config(source = warehouse,
      report = "histogram", top = 2)).collect()
    assert(rows.length == 2)
    val total = Report.wideFor(spark,
      Report.Config(source = warehouse)).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    // equal depth up to the remainder rule; boundaries non-decreasing
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.max - ns.min <= 1)
    val bounds = rows.flatMap(r =>
      Seq(r.getAs[Double]("lo"), r.getAs[Double]("hi")))
    assert(bounds.sameElements(bounds.sorted))
  }

  test("digest report: detail sections cohere with the profile row") {
    val top = Report.run(spark, Report.Config(source = warehouse,
      report = "profile")).collect().head
    val digest = top.getAs[String]("digest")
    val rows = Report.run(spark, Report.Config(source = warehouse,
      report = "digest", digestId = Some(digest))).collect()
    val bySection = rows.groupBy(_.getAs[String]("section"))
    assert(bySection.keySet == Set("profile", "sparkline", "examples",
      "apdex", "users", "schemas"))
    val prof = bySection("profile")
      .map(r => r.getAs[String]("label") -> r.getAs[Double]("value")).toMap
    // the detail's profile section mirrors the profile report's row
    assert(prof("cnt") == top.getAs[Long]("cnt").toDouble)
    assert(math.abs(prof("total_time") -
      top.getAs[Double]("total_time")) < 1e-3)
    // apdex classes partition the calls; the score is a share
    val apdex = bySection("apdex")
      .map(r => r.getAs[String]("label") -> r.getAs[Double]("value")).toMap
    assert(apdex("satisfied") + apdex("tolerating") + apdex("frustrated")
      == prof("cnt"))
    assert(apdex("apdex") >= 0.0 && apdex("apdex") <= 1.0)
    // examples rank worst-first on latency
    val ex = bySection("examples").sortBy(_.getAs[Long]("ord"))
      .map(_.getAs[Double]("value"))
    assert(ex.sameElements(ex.sorted.reverse))
    // drill-down links: no duplicate users/schemas, loads ranked desc
    for (sec <- Seq("users", "schemas")) {
      val s = bySection(sec).sortBy(_.getAs[Long]("ord"))
      assert(s.map(_.getAs[String]("label")).distinct.length == s.length)
      val loads = s.map(_.getAs[Double]("value"))
      assert(loads.sameElements(loads.sorted.reverse))
    }
    // hour buckets are distinct and the flag is required
    val spans = bySection("sparkline").map(_.getAs[Long]("ord"))
    assert(spans.distinct.length == spans.length)
    intercept[IllegalArgumentException](Report.run(spark,
      Report.Config(source = warehouse, report = "digest")))
  }

  test("every report type returns rows over the ingested warehouse") {
    for (rep <- Seq("profile", "sparkline", "load", "apdex", "percentiles")) {
      val rows = Report.run(spark,
        Report.Config(source = warehouse, report = rep)).collect()
      assert(rows.nonEmpty, s"report $rep returned no rows")
    }
    intercept[IllegalArgumentException](
      Report.run(spark, Report.Config(source = warehouse, report = "nope")))
  }

  test("ks report: one-sided digests drop (no defined KS); -splitAt required") {
    // every fixture digest occurs once, so each lands entirely on one
    // side of any split — the ks report must run clean and return the
    // EMPTY list (the documented drop-empty-sides contract; value
    // checks live in QanSpec's hand-computed cases)
    val rows = Report.run(spark, Report.Config(source = warehouse,
      report = "ks", splitAt = Some("2024-01-15 10:00:02"))).collect()
    assert(rows.isEmpty, rows.mkString(", "))
    intercept[IllegalArgumentException](Report.run(spark,
      Report.Config(source = warehouse, report = "ks")))
  }

  test("drift report: PSI per digest across -splitAt; anomaly runs clean") {
    // split mid-window like the compare test: both halves populated
    val rows = Report.run(spark, Report.Config(source = warehouse,
      report = "drift", splitAt = Some("2024-01-15 10:00:02"))).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val psi = r.getAs[Double]("psi")
      assert(!psi.isNaN && !psi.isInfinite && psi >= 0.0, r.toString)
    }
    intercept[IllegalArgumentException](Report.run(spark,
      Report.Config(source = warehouse, report = "drift")))
    // the 3-event fixture has no hourly outliers — anomaly must run and
    // return an EMPTY alert list, not fail
    val alerts = Report.run(spark, Report.Config(source = warehouse,
      report = "anomaly")).collect()
    assert(alerts.isEmpty)
  }

  test("cusum report: one changepoint flag, endpoint cancels; seasonal runs clean") {
    val rows = Report.run(spark, Report.Config(source = warehouse,
      report = "cusum")).collect()
    assert(rows.nonEmpty)
    // exactly one argmax day; the full-series deviation cancels at the
    // last row by construction (C_N = N·S − N·S)
    assert(rows.count(_.getAs[Boolean]("is_changepoint")) == 1)
    assert(rows.last.getAs[Long]("cum_dev") == 0L)
    // single-day fixture → every hour bucket is its own whole profile
    // (m = 1 → variance bound 0, strict > never fires): empty alert
    // list, not a failure
    val seasonal = Report.run(spark, Report.Config(source = warehouse,
      report = "seasonal")).collect()
    assert(seasonal.isEmpty)
  }

  test("cusum over a rollup: source reads stored partials and equals the event-level run") {
    import org.apache.spark.sql.functions.{col, expr, round}
    // build the q201-layout partial table from the SAME warehouse wide
    // frame the event-level cusum consumes, split into two streamed
    // batches with one replayed (the StreamingRollup crash contract)
    val wide = Report.wideFor(spark, Report.Config(source = warehouse))
    val day = expr("unix_micros(ts) div 86400000000")
    val units = round(col("query_time") * 1e6).cast("long")
    val tbl = "graft_bench_report_rollup"
    Warehouse.dropWithLocation(spark, tbl)
    try {
      val (b0, b1) = (wide.filter(col("query_time") < 0.5),
        wide.filter(col("query_time") >= 0.5))
      graft.streaming.StreamingRollup.appendBatch(b0, 0L, day, col("digest"), units, tbl)
      graft.streaming.StreamingRollup.appendBatch(b1, 1L, day, col("digest"), units, tbl)
      graft.streaming.StreamingRollup.appendBatch(b1, 1L, day, col("digest"), units, tbl) // replay
      val viaRollup = Report.run(spark, Report.Config(
        source = s"rollup:$tbl", report = "cusum")).collect()
      val direct = Report.run(spark, Report.Config(
        source = warehouse, report = "cusum")).collect()
      assert(viaRollup.sameElements(direct))
      // -since/-until slice the day-grain partials: an enclosing
      // window equals the unsliced run, a disjoint window is empty
      assert(Report.run(spark, Report.Config(source = s"rollup:$tbl",
        report = "cusum", since = Some("2024-01-01"),
        until = Some("2024-02-01"))).collect().sameElements(viaRollup))
      assert(Report.run(spark, Report.Config(source = s"rollup:$tbl",
        report = "cusum", since = Some("2030-01-01"))).collect().isEmpty)
    } finally Warehouse.dropWithLocation(spark, tbl)
  }

  test("digest + pareto over a rollup: partials-fed pages equal the event-level run") {
    import org.apache.spark.sql.functions.{col, lit}
    // digest-grain partials from the SAME warehouse wide frame, split
    // into two streamed batches with one replayed — the review page
    // and the concentration head must rebuild bit-equal from storage
    val wide = Report.wideFor(spark, Report.Config(source = warehouse))
    val dir = Files.createTempDirectory("graft-report-dgp").toString + "/dg"
    val (b0, b1) = (wide.filter(col("query_time") < 0.5),
      wide.filter(col("query_time") >= 0.5))
    def append(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val (core, users, schemas, ex) = graft.operators.Qan.digestPartials(b)
      core.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(dir)
      users.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(dir + "_users")
      schemas.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(dir + "_schemas")
      ex.withColumn("batch_id", lit(id))
        .write.mode("append").parquet(dir + "_examples")
    }
    append(b0, 0L); append(b1, 1L); append(b1, 1L) // replay
    val top = Report.run(spark, Report.Config(source = warehouse,
      report = "profile")).collect().head
    val digest = top.getAs[String]("digest")
    val viaRollup = Report.run(spark, Report.Config(
      source = s"rollup:$dir", report = "digest",
      digestId = Some(digest))).collect()
    val direct = Report.run(spark, Report.Config(source = warehouse,
      report = "digest", digestId = Some(digest))).collect()
    assert(viaRollup.sameElements(direct))
    val pR = Report.run(spark, Report.Config(source = s"rollup:$dir",
      report = "pareto")).collect()
    val pD = Report.run(spark, Report.Config(source = warehouse,
      report = "pareto")).collect()
    assert(pR.sameElements(pD))
  }

  test("percentiles + anomaly over a rollup: partials-fed paths equal the event-level run") {
    import org.apache.spark.sql.functions.{col, lit}
    val wide = Report.wideFor(spark, Report.Config(source = warehouse))
    // stored latencySketch partials (digest × day × bucket), two
    // streamed batches with one replayed — the percentile bands must
    // rebuild bit-equal from storage
    val dir = Files.createTempDirectory("graft-report-sk").toString + "/sk"
    val (b0, b1) = (wide.filter(col("query_time") < 0.5),
      wide.filter(col("query_time") >= 0.5))
    def appendSketch(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      graft.operators.Qan.latencySketch(b).withColumn("batch_id", lit(id))
        .write.mode("append").parquet(dir)
    appendSketch(b0, 0L); appendSketch(b1, 1L); appendSketch(b1, 1L) // replay
    val pctR = Report.run(spark, Report.Config(source = s"rollup:$dir",
      report = "percentiles")).collect()
    val pctD = Report.run(spark, Report.Config(source = warehouse,
      report = "percentiles")).collect()
    assert(pctR.nonEmpty && pctR.sameElements(pctD))
    // a -since past the fixture day slices the sketch empty
    assert(Report.run(spark, Report.Config(source = s"rollup:$dir",
      report = "percentiles", since = Some("2030-01-01"))).collect().isEmpty)
    // anomaly from the digest-grain core partials (reuse the digest
    // test's layout): same flags, loads, and hour timestamps
    val dgDir = Files.createTempDirectory("graft-report-an").toString + "/dg"
    def appendCore(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val (core, _, _, _) = graft.operators.Qan.digestPartials(b)
      core.withColumn("batch_id", lit(id)).write.mode("append").parquet(dgDir)
    }
    appendCore(b0, 0L); appendCore(b1, 1L); appendCore(b1, 1L) // replay
    // compare the full frames (flags off too): run the operator pair
    // directly — the CLI filters to is_anomaly, which a small fixture
    // may leave empty
    val anR = graft.operators.Qan.latencyAnomalyFromPartials(
        spark.read.parquet(dgDir).dropDuplicates("batch_id", "digest", "hr")
          .drop("batch_id"))
      .orderBy("digest", "hr").collect()
    val anD = graft.operators.Qan.latencyAnomaly(wide)
      .orderBy("digest", "hr").collect()
    assert(anR.nonEmpty && anR.sameElements(anD))
    // and the CLI path parses + runs (filtered head may be empty)
    Report.run(spark, Report.Config(source = s"rollup:$dgDir",
      report = "anomaly")).collect()
    // sparkline from the same core partials: equals the event-level
    // hour sparkline with the totals rounded the same way (integer-µs
    // partials round once at the presentation edge)
    import org.apache.spark.sql.functions.round
    val spR = Report.run(spark, Report.Config(source = s"rollup:$dgDir",
      report = "sparkline")).collect()
    val spD = graft.operators.Qan.sparkline(wide, "hour")
      .withColumn("total_time", round(col("total_time"), 4))
      .withColumn("total_time_scaled", round(col("total_time_scaled"), 4))
      .collect()
    assert(spR.nonEmpty && spR.sameElements(spD))
    // apdex from the stored n_sat/n_tol counters: bit-identical to the
    // event-level run at the partials' own threshold (0.5 default)
    val apR = Report.run(spark, Report.Config(source = s"rollup:$dgDir",
      report = "apdex")).collect()
    val apD = Report.run(spark, Report.Config(source = warehouse,
      report = "apdex")).collect()
    assert(apR.nonEmpty && apR.sameElements(apD))
  }

  test("compare report splits rate-scaled load at -splitAt") {
    // fixture events land at 10:00:01-03 on 2024-01-15: split mid-window
    val rows = Report.run(spark, Report.Config(source = warehouse,
      report = "compare", splitAt = Some("2024-01-15 10:00:02"))).collect()
    assert(rows.nonEmpty)
    val totals = rows.map(r => r.getAs[Long]("cnt_before")).sum +
      rows.map(r => r.getAs[Long]("cnt_after")).sum
    assert(totals == Report.run(spark,
      Report.Config(source = warehouse)).collect()
      .map(_.getAs[Long]("cnt")).sum)
    // -splitAt is required for this report
    intercept[IllegalArgumentException](Report.run(spark,
      Report.Config(source = warehouse, report = "compare")))
  }

  test("-since/-until prune warehouse partitions and bound both source kinds") {
    // slow001's events are dated 2024-01-15 (fixture ground truth)
    val in = Report.run(spark, Report.Config(source = warehouse,
      since = Some("2024-01-01"), until = Some("2024-02-01"))).collect()
    assert(in.nonEmpty)
    val out = Report.run(spark, Report.Config(source = warehouse,
      since = Some("2024-06-01"))).collect()
    assert(out.isEmpty)
    // the date bounds land on the PARTITION column: the scan carries
    // PartitionFilters, i.e. whole date directories are skipped pre-IO
    val plan = Report.wideFor(spark, Report.Config(source = warehouse,
        since = Some("2024-01-01"), until = Some("2024-02-01")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(q_date"),
      s"expected partition pruning in:\n$plan")
    // raw-log sources honor the same window on parsed event time
    val dir = Files.createTempDirectory("graft-report-window")
    Files.writeString(dir.resolve("slow001.log"),
      graft.slowlog.SlowLogFixtures.slow001)
    assert(Report.run(spark, Report.Config(source = dir.toString,
      until = Some("2024-01-01"))).collect().isEmpty)
  }

  test("profile over the warehouse equals profile over a fresh parse") {
    val dir = Files.createTempDirectory("graft-report-direct")
    Files.writeString(dir.resolve("slow001.log"),
      graft.slowlog.SlowLogFixtures.slow001)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("digest"), r.getAs[Long]("cnt"),
        r.getAs[Double]("total_time"), r.getAs[String]("example_query"))
    val stored = Report.run(spark,
      Report.Config(source = warehouse)).collect().map(key).toSeq
    val direct = Report.run(spark,
      Report.Config(source = dir.toString)).collect().map(key).toSeq
    assert(stored == direct)
    // and the sketch-backed percentile report is consistent with the
    // profile's own approx p95 within the documented bucket bound
    val p = Report.run(spark,
      Report.Config(source = warehouse, report = "percentiles")).collect()
      .map(r => r.getAs[String]("digest") -> r.getAs[Double]("p95_time")).toMap
    Report.run(spark, Report.Config(source = warehouse)).collect().foreach { r =>
      val exact = r.getAs[Double]("p95_time")
      val est = p(r.getAs[String]("digest"))
      assert(est <= exact + 1e-4 && exact < est * 1.125 + 1e-4,
        s"${r.getAs[String]("digest")}: sketch $est vs profile $exact")
    }
  }

  test("ranged rollup reports slice on hr; unservable knobs fail loudly") {
    import org.apache.spark.sql.functions.lit
    val wide = Report.wideFor(spark, Report.Config(source = warehouse))
    val dir = Files.createTempDirectory("graft-report-rg").toString + "/dg"
    val (core, _, _, _) = graft.operators.Qan.digestPartials(wide)
    core.withColumn("batch_id", lit(0L)).write.mode("append").parquet(dir)
    val src = s"rollup:$dir"
    def run(report: String, f: Report.Config => Report.Config) =
      Report.run(spark, f(Report.Config(source = src, report = report)))
        .collect()
    // fixture events are dated 2024-01-15: an enclosing window equals
    // the unsliced run, a disjoint window is empty — ranged rollup
    // reports no longer silently return full-history numbers
    val spAll = run("sparkline", identity)
    assert(spAll.nonEmpty)
    assert(run("sparkline", _.copy(since = Some("2024-01-01"),
      until = Some("2024-02-01"))).sameElements(spAll))
    assert(run("sparkline", _.copy(since = Some("2024-06-01"))).isEmpty)
    assert(run("apdex", _.copy(until = Some("2024-01-01"))).isEmpty)
    val paAll = run("pareto", identity)
    assert(paAll.nonEmpty &&
      run("pareto", _.copy(since = Some("2024-01-01"))).sameElements(paAll))
    // a grain or threshold the partials cannot serve fails loudly
    // instead of returning numbers at a different grain/t than asked
    intercept[IllegalArgumentException](
      run("sparkline", _.copy(bucket = "minute")))
    intercept[IllegalArgumentException](
      run("apdex", _.copy(apdexT = Some(0.25))))
    intercept[IllegalArgumentException](
      run("digest", _.copy(digestId = Some("x"),
        since = Some("2024-01-01"))))
  }
}
