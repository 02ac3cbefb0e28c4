package graft

import graft.operators.Qan
import graft.slowlog.{SlowLogSource, SlowLogTable}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * QAN report CLI — the consumption half of the reference's contract.
 * [[Ingest]] replaces `slowlog2clickhouse`'s load path; this replaces
 * the ClickHouse SQL its users run afterwards: one command from a slow
 * log (or the ingested warehouse) to the pt-query-digest-style report,
 * no SQL required.
 *
 * Usage:
 * {{{
 *   Report -source <logdir | parquet:warehouseDir> [-report profile]
 *     [-top 20] [-bucket hour] [-apdexT 0.5] [-splitAt <ts>]
 *     [-since YYYY-MM-DD] [-until YYYY-MM-DD]
 * }}}
 *
 * `-since`/`-until` bound the report window (inclusive / exclusive).
 * Over a `parquet:` source they filter the warehouse's `q_date`
 * PARTITION column, so a one-week report on a year of 100 TB history
 * prunes whole date partitions before any IO (PartitionFilters in the
 * scan — spec-asserted); over a raw log they filter parsed event time.
 *
 * Reports: `profile` (top digests by rate-scaled load, with the
 * worst-case example query), `sparkline` (per-digest time buckets;
 * with a `rollup:<prefix>` source the hour-grain series rebuilds from
 * the stored core partials, totals rounded once at the presentation
 * edge), `load` (db/user breakdown), `apdex` (latency satisfaction per
 * digest; with a `rollup:<prefix>` source served from the stored
 * n_sat/n_tol counters at the threshold the partials were built with —
 * `-apdexT` is ignored there), `percentiles` (p50/p95/p99 per digest via the mergeable
 * HDR sketch; with a `rollup:<table|path>` source it reads a STORED
 * latencySketch table — digest × day × bucket counts, day-sliced by
 * `-since`/`-until` before the merge — so the band report costs a
 * calendar×bucket-sized read, never an event rescan), `compare`
 * (rate-scaled load before/after `-splitAt`, worst regressions
 * first), `anomaly` (hourly loads outside each digest's median ±
 * 3·MAD — the robust alert list; with a `rollup:<prefix>` source the
 * hourly loads rebuild from the stored digest-grain core partials,
 * bit-identical to the event-level run), `drift` (PSI of each
 * digest's latency distribution before/after `-splitAt`, biggest
 * shifts first), `ks` (the binless exact-integer twin of `drift`:
 * q248's two-sample KS distance per digest across `-splitAt` — no bin
 * width to tune, biggest shifts first), `pareto` (the digests carrying the first `-threshold`
 * of rate-scaled load, crossing class included — the capacity-planning
 * head next to `profile`), `histogram` (equi-depth latency buckets:
 * `-top` bins of equal count with exact bounds — equi-width starves on
 * the latency long tail), `digest`
 * (per-digest drill-down: profile row + hourly sparkline + worst
 * examples + apdex + user/schema links for `-digest <id>` — the
 * review-UI detail page behind a profile row; with a `rollup:<prefix>`
 * source it rebuilds the SAME page purely from stored digest-grain
 * partials — `<prefix>` core + `_users`/`_schemas`/`_examples`,
 * `Qan.digestPartials` layout — so the review page never rescans
 * events; `pareto` gains the same partials-fed path), `cusum` (per-day load CUSUM with the
 * level-shift day flagged — exact-integer µs, q204's operator; with a
 * `rollup:<table|path>` source it reads a STORED partial table —
 * q201/StreamingRollup layout, replayed micro-batches collapsed — so
 * the daily "did load shift" check costs a calendar-sized read, never
 * an event rescan, and is bit-identical to the event-level run), and
 * `seasonal` (hour-buckets that broke their own hour-of-day profile,
 * q207's integer z-test).
 *
 * Partials-fed coverage is now every mode the digest-grain partials
 * CAN serve exactly: digest, pareto, cusum, percentiles, anomaly,
 * sparkline, apdex. The two that stay event-level do so by design:
 * `profile`'s dispersion/percentile columns (stddev, V/M, approx p95,
 * first/last seen, rows sums) are statistics the partials deliberately
 * don't carry (the drill-down profile SECTION is partials-fed via
 * `-report digest`), and `load`'s db×user grain is finer than the
 * per-(digest, label) side tables.
 *
 * A `parquet:` source reads the [[graft.sources.Warehouse]] layout the
 * ingest CLI writes (date-partitioned wide table), so
 * `Ingest -dsn parquet:W` followed by `Report -source parquet:W` is the
 * reference's full ingest→analyze round trip with no external store.
 */
object Report {

  final case class Config(
      source: String = null,
      report: String = "profile",
      top: Int = 20,
      bucket: String = "hour",
      apdexT: Option[Double] = None,
      splitAt: Option[String] = None,
      since: Option[String] = None,
      until: Option[String] = None,
      threshold: Double = 0.8,
      digestId: Option[String] = None)

  def parseArgs(args: Array[String]): Config = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Config = rest match {
      case "-source" :: v :: t => loop(t, c.copy(source = v))
      case "-report" :: v :: t => loop(t, c.copy(report = v))
      case "-top" :: v :: t => loop(t, c.copy(top = Ingest.int("-top", v)))
      case "-bucket" :: v :: t => loop(t, c.copy(bucket = v))
      case "-apdexT" :: v :: t =>
        loop(t, c.copy(apdexT = Some(Ingest.double("-apdexT", v))))
      case "-splitAt" :: v :: t => loop(t, c.copy(splitAt = Some(v)))
      case "-since" :: v :: t => loop(t, c.copy(since = Some(v)))
      case "-until" :: v :: t => loop(t, c.copy(until = Some(v)))
      case "-threshold" :: v :: t =>
        loop(t, c.copy(threshold = Ingest.double("-threshold", v)))
      case "-digest" :: v :: t => loop(t, c.copy(digestId = Some(v)))
      case Nil => c
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown flag: $other")
    }
    val c = loop(args.toList, Config())
    require(c.source != null, "-source <logdir | parquet:dir> is required")
    c
  }

  /** The wide table for a source — stored warehouse or a fresh parse —
    * with the report window applied on the prunable column: `q_date`
    * (the warehouse's PARTITION column, so date bounds become
    * PartitionFilters) or parsed event date for raw logs. */
  def wideFor(spark: SparkSession, c: Config): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, to_date}
    val (df, dateCol) =
      if (c.source.startsWith("parquet:"))
        (graft.sources.Warehouse.read(spark, c.source.stripPrefix("parquet:")),
          col("q_date"))
      else
        (SlowLogTable.flatten(SlowLogSource.readRaw(spark, c.source)),
          to_date(col("ts")))
    val lo = c.since.map(s => dateCol >= to_date(lit(s)))
    val hi = c.until.map(u => dateCol < to_date(lit(u)))
    (lo.toSeq ++ hi.toSeq).foldLeft(df)(_ filter _)
  }

  /** The four digest-partial frames behind a `rollup:` source —
    * `<prefix>` core plus `_users`/`_schemas`/`_examples` (tables or
    * parquet paths), streamed `batch_id` stamps collapsed per frame's
    * own key set so foreachBatch replays cannot double-count. */
  private def rollupDigestTables(spark: SparkSession, c: Config)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val prefix = c.source.stripPrefix("rollup:")
    def read(suffix: String): DataFrame = {
      val name = prefix + suffix
      if (name.contains("/")) spark.read.parquet(name) else spark.table(name)
    }
    def dedup(df: DataFrame, keys: Seq[String]): DataFrame =
      if (df.columns.contains("batch_id"))
        df.dropDuplicates("batch_id" +: keys).drop("batch_id")
      else df
    (dedup(read(""), Seq("digest", "hr")),
      dedup(read("_users"), Seq("digest", "label")),
      dedup(read("_schemas"), Seq("digest", "label")),
      dedup(read("_examples"), Seq("digest", "query", "ts", "offset")))
  }

  /** The CORE digest-partial frame alone (no side tables) — for
    * reports that need only the (digest, hr) counters: anomaly,
    * sparkline, apdex, pareto. `-since`/`-until` slice on the `hr`
    * epoch-hour column (midnight bounds are exact hour multiples, so
    * the date window maps losslessly onto the partial grain) — a
    * ranged rollup report covers the SAME window as its event-level
    * twin, never silently full history. */
  private def rollupCoreTable(spark: SparkSession,
                              c: Config): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val src = c.source.stripPrefix("rollup:")
    val stored =
      if (src.contains("/")) spark.read.parquet(src) else spark.table(src)
    val collapsed =
      if (stored.columns.contains("batch_id"))
        stored.dropDuplicates("batch_id", "digest", "hr").drop("batch_id")
      else stored
    def hrBound(d: String) =
      expr(s"unix_micros(to_timestamp('$d')) div 3600000000")
    val lo = c.since.map(s => col("hr") >= hrBound(s))
    val hi = c.until.map(u => col("hr") < hrBound(u))
    (lo.toSeq ++ hi.toSeq).foldLeft(collapsed)(_ filter _)
  }

  /** The selected report as a frame (the testable surface). */
  def run(spark: SparkSession, c: Config): DataFrame = {
    lazy val wide = wideFor(spark, c)
    c.report match {
      case "sparkline" if c.source.startsWith("rollup:") =>
        // hour-grain sparkline from the stored core partials; time
        // totals round once at the presentation edge (integer-µs
        // partials — the q201 rule). The partial grain is FIXED at
        // hour, so a different -bucket cannot be served from this
        // source — fail loudly rather than return mislabeled buckets.
        require(c.bucket == "hour", s"rollup-sourced sparkline serves " +
          s"the stored hour grain; -bucket ${c.bucket} needs an " +
          "event-level source")
        Qan.sparklineFromPartials(rollupCoreTable(spark, c))
      case "apdex" if c.source.startsWith("rollup:") =>
        // satisfaction index from the stored n_sat/n_tol counters —
        // served at the threshold the partials were BUILT with. An
        // explicit -apdexT cannot be honored (classification is baked,
        // not mergeable across thresholds) — fail loudly rather than
        // return numbers at a different t than asked.
        require(c.apdexT.isEmpty, "rollup-sourced apdex serves the " +
          "threshold the partials were built with; -apdexT needs an " +
          "event-level source")
        Qan.apdexFromPartials(rollupCoreTable(spark, c)).limit(c.top)
      case "cusum" if c.source.startsWith("rollup:") =>
        // monitor WITHOUT the event rescan: read a stored q201-layout
        // partial table (blind-appended by daily/streamed batches),
        // collapse replayed micro-batches if the stream stamped them,
        // merge on read, and feed the calendar-sized daily frame to
        // the changepoint check — bit-identical to the event-level
        // run (exact-integer partials; spec-proven composition).
        // -since/-until slice the day-grain partials before the merge,
        // mirroring the event-level path's wideFor window.
        import org.apache.spark.sql.functions.{col, lit, sum}
        val src = c.source.stripPrefix("rollup:")
        val stored =
          if (src.contains("/")) spark.read.parquet(src) else spark.table(src)
        val collapsed =
          if (stored.columns.contains("batch_id"))
            stored.dropDuplicates("batch_id", "day", "event_type")
              .drop("batch_id")
          else stored
        // `day` is the epoch-day long of the q201 layout
        // (ts_ns div 86400000000000) — bound with unix_date
        val loB = c.since.map(s =>
          col("day") >= org.apache.spark.sql.functions.expr(
            s"unix_date(to_date('$s'))"))
        val hiB = c.until.map(u =>
          col("day") < org.apache.spark.sql.functions.expr(
            s"unix_date(to_date('$u'))"))
        val partials = (loB.toSeq ++ hiB.toSeq).foldLeft(collapsed)(_ filter _)
        val daily = graft.operators.Rollup.mergePartials(partials)
          .groupBy("day")
          .agg(sum("cnt").as("n"), sum("sum_v").as("_s"))
        graft.operators.Behavior.cusumFromDaily(daily).orderBy(col("day"))
      case "digest" if c.source.startsWith("rollup:") =>
        // the drill-down page WITHOUT the event rescan: digest-grain
        // partials (Qan.digestPartials layout — core + _users/_schemas/
        // _examples side tables, blind-appended per batch) merge on
        // read into the same tall section frame; replayed streamed
        // batches collapse via their batch_id stamp first
        val id = c.digestId.getOrElse(throw new IllegalArgumentException(
          "-report digest needs -digest <digest-id>"))
        // the _users/_schemas side tables are (digest, label)-grain
        // with no time column, so a ranged drill-down page cannot be
        // rebuilt from partials consistently — fail loudly
        require(c.since.isEmpty && c.until.isEmpty, "rollup-sourced " +
          "digest page cannot be range-sliced (side tables carry no " +
          "time column); -since/-until need an event-level source")
        val (core, users, schemas, examples) = rollupDigestTables(spark, c)
        Qan.digestDetailFromPartials(core, users, schemas, examples, id)
      case "percentiles" if c.source.startsWith("rollup:") =>
        // percentile bands WITHOUT the event rescan: a stored
        // latencySketch frame (digest × day × bucket counts, blind-
        // appended daily/streamed) is calendar×bucket-sized; slice on
        // `day` for ranged reports, collapse replayed batches, merge
        // counts, walk buckets — the fact table is never read
        import org.apache.spark.sql.functions.{col, lit}
        val src = c.source.stripPrefix("rollup:")
        val stored =
          if (src.contains("/")) spark.read.parquet(src) else spark.table(src)
        val collapsed =
          if (stored.columns.contains("batch_id"))
            stored.dropDuplicates("batch_id", "digest", "day", "bucket")
              .drop("batch_id")
          else stored
        val lo = c.since.map(s => col("day") >= lit(s))
        val hi = c.until.map(u => col("day") < lit(u))
        val sliced = (lo.toSeq ++ hi.toSeq).foldLeft(collapsed)(_ filter _)
        Qan.latencyPercentilesFrom(sliced)
          .orderBy(col("p95_time").desc, col("digest"))
          .limit(c.top)
      case "anomaly" if c.source.startsWith("rollup:") =>
        // robust outlier flags WITHOUT the event rescan: hourly loads
        // rebuilt from the digest-grain CORE partials (integer-µs
        // sums), then the same median ± 3·MAD rule — bit-identical to
        // the event-level run (ReportSpec). Reads ONLY the core table
        // (not the _users/_schemas/_examples side tables the digest
        // page needs) — an anomaly sweep shouldn't require or touch
        // the drill-down side frames.
        import org.apache.spark.sql.functions.col
        Qan.latencyAnomalyFromPartials(rollupCoreTable(spark, c))
          .filter(col("is_anomaly"))
          .orderBy(col("load").desc, col("digest"), col("hr"))
          .limit(c.top)
      case "pareto" if c.source.startsWith("rollup:") =>
        // concentration head from stored partials: merge → one
        // presentation division per digest → the q134 ranking.
        // rollupCoreTable (not rollupDigestTables) so -since/-until
        // slice on hr like the other core-fed modes.
        import org.apache.spark.sql.functions.col
        Qan.paretoLoad(Qan.digestLoadsFromPartials(rollupCoreTable(spark, c)),
          "digest", col("load"), c.threshold)
      case "profile" => Qan.profile(wide, c.top)
      case "sparkline" => Qan.sparkline(wide, c.bucket)
      case "load" => Qan.loadByDbUser(wide)
      case "apdex" =>
        import org.apache.spark.sql.functions.col
        Qan.apdex(wide, "digest", col("query_time"),
          c.apdexT.getOrElse(0.5)).limit(c.top)
      case "percentiles" =>
        Qan.latencyPercentilesFrom(Qan.latencySketch(wide))
          .orderBy(org.apache.spark.sql.functions.col("p95_time").desc,
            org.apache.spark.sql.functions.col("digest"))
          .limit(c.top)
      case "compare" =>
        // "what got worse?": rate-scaled load before vs after -splitAt
        // (required), worst regressions first — the q85 trend report
        import org.apache.spark.sql.functions.{col, greatest, lit, to_timestamp}
        val at = c.splitAt.getOrElse(throw new IllegalArgumentException(
          "-report compare needs -splitAt <YYYY-MM-DD[ HH:MM:SS]>"))
        Qan.compareWindows(wide, "digest", "ts",
          col("query_time") * greatest(col("rate_limit"), lit(1L)),
          to_timestamp(lit(at))).limit(c.top)
      case "anomaly" =>
        // robust outlier flags: per-digest hourly load vs median ± 3·MAD
        import org.apache.spark.sql.functions.col
        Qan.latencyAnomaly(wide)
          .filter(col("is_anomaly"))
          .orderBy(col("load").desc, col("digest"), col("hr"))
          .limit(c.top)
      case "drift" =>
        // "did the latency distribution shift?": PSI per digest between
        // the windows before/after -splitAt (required), biggest first
        import org.apache.spark.sql.functions.{col, lit, to_timestamp}
        val at = c.splitAt.getOrElse(throw new IllegalArgumentException(
          "-report drift needs -splitAt <YYYY-MM-DD[ HH:MM:SS]>"))
        Qan.psiDrift(
            wide.withColumn("is_ref",
              col("ts") < to_timestamp(lit(at))),
            "digest", "query_time", "is_ref", binWidth = 0.1)
          .orderBy(col("psi").desc, col("digest"))
          .limit(c.top)
      case "ks" =>
        // q248's binless twin of -report drift: exact-integer KS
        // distance per digest between the windows before/after
        // -splitAt (required) over latency in µs, biggest shift first
        import org.apache.spark.sql.functions.{col, lit, round, to_timestamp}
        val at = c.splitAt.getOrElse(throw new IllegalArgumentException(
          "-report ks needs -splitAt <YYYY-MM-DD[ HH:MM:SS]>"))
        Qan.ksDrift(
            wide.withColumn("us", round(col("query_time") * 1e6).cast("long"))
              .withColumn("is_ref", col("ts") < to_timestamp(lit(at))),
            "digest", "us", "is_ref")
          .orderBy(col("ks").desc, col("digest"))
          .limit(c.top)
      case "pareto" =>
        // "which digests make up the first -threshold of load?" — the
        // q134 concentration head over the rate-scaled load, crossing
        // class included so the head always covers ≥ threshold
        import org.apache.spark.sql.functions.{col, greatest, lit}
        Qan.paretoLoad(wide, "digest",
          col("query_time") * greatest(col("rate_limit"), lit(1L)),
          c.threshold)
      case "cusum" =>
        // "when did the load level shift?": q204's exact-integer CUSUM
        // over per-day total query time in µs — the changepoint day is
        // the argmax row (is_changepoint)
        import org.apache.spark.sql.functions.{col, expr, round}
        graft.operators.Behavior.cusumChangepoint(wide,
          expr("unix_micros(ts) div 86400000000"),
          round(col("query_time") * 1e6).cast("long"))
          .orderBy(col("day"))
      case "seasonal" =>
        // "which hours broke their own diurnal pattern?": q207's
        // integer z-test against each hour-of-day's cross-day profile;
        // flagged buckets first, heaviest load first
        import org.apache.spark.sql.functions.{col, expr, round}
        graft.operators.Behavior.seasonalAnomaly(wide,
            expr("unix_micros(ts) div 86400000000"),
            expr("(unix_micros(ts) div 3600000000) % 24"),
            round(col("query_time") * 1e6).cast("long"))
          .filter(col("flagged"))
          .orderBy(col("s_units").desc, col("day"), col("hour"))
          .limit(c.top)
      case "digest" =>
        // the per-digest drill-down detail (q221's operator): profile
        // row + hourly sparkline + worst examples + apdex + user/schema
        // links for ONE digest, the review-UI page behind a profile row
        val id = c.digestId.getOrElse(throw new IllegalArgumentException(
          "-report digest needs -digest <digest-id>"))
        graft.operators.Qan.digestDetail(wide, id, c.apdexT.getOrElse(0.5))
      case "histogram" =>
        // equi-depth latency histogram: -top buckets with equal query
        // counts — where the mass actually sits (equi-width starves on
        // latency's long tail); distributed rank, no single-reducer
        // window (q193's operator)
        import org.apache.spark.sql.functions.{col, round}
        graft.operators.Pipeline.equiDepthHistogram(
            wide, col("query_time"), c.top)
          .select(col("bin"), col("n"),
            round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
      case other => throw new IllegalArgumentException(
        s"unknown -report: $other (profile|sparkline|load|apdex|percentiles|compare|anomaly|drift|ks|pareto|histogram|cusum|seasonal|digest)")
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = GraftSession.build("graft-report")
    try run(spark, c).show(c.top, truncate = 48)
    finally spark.stop()
  }
}
