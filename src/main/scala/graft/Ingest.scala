package graft

import graft.slowlog.{SlowLogSource, SlowLogTable}
import graft.sources.{Amplify, JdbcSink}
import org.apache.spark.sql.SparkSession

/**
 * End-to-end ingest CLI — the reference's one-command contract
 * (SURVEY.md §3.1 `[U: main.go]`: flags `-slowLogPath`, `-dsn`; scan →
 * parse → fingerprint → flatten → batched sink), re-expressed as ONE
 * Spark job:
 *
 *   distributed scan+parse ([[graft.slowlog.SlowLogSource]])
 *     → fingerprint/digest + wide flatten ([[graft.slowlog.SlowLogTable]])
 *     → JDBC batch sink ([[graft.sources.JdbcSink]])
 *
 * The reference's goroutine/channel pipeline becomes executor
 * parallelism; its accumulate-N/commit loop is the JDBC writer's
 * per-partition batching; its `-x`-style re-ingest multiplier is
 * [[graft.sources.Amplify]].
 *
 * Usage:
 * {{{
 *   Ingest -slowLogPath <dir|file|glob> -dsn <jdbc-url | parquet:dir>
 *     [-table queries] [-batchSize 10000] [-amplify 1]
 *     [-driver <jdbc-driver-class>] [-mode append] [-numPartitions N]
 *     [-tail -checkpoint <dir>]
 * }}}
 *
 * A `parquet:<dir>` DSN selects the native warehouse sink instead of
 * JDBC — date-partitioned parquet ([[graft.sources.Warehouse]]), in
 * both batch and `-tail` mode (the JDBC-only flags `-table`,
 * `-batchSize`, `-driver`, `-numPartitions` are ignored for it).
 *
 * `-tail` switches to the reference's default behavior — follow the
 * log directory continuously, exactly-once per file, resuming from
 * `-checkpoint` after restarts (the analog of its byte-offset file).
 *
 * The driver class is inferred for `jdbc:duckdb:` DSNs (the offline
 * test sink) and `jdbc:clickhouse:`/`jdbc:ch:` DSNs (the reference's
 * actual target: dialect + generated MergeTree DDL wired end-to-end,
 * execution gated only on a live server + driver jar — see
 * [[graft.sources.ClickHouseSink]]); any other target needs `-driver`.
 * Embedded DuckDB is a single-writer store, so its default
 * `numPartitions` is 1; cluster sinks default to the upstream
 * partitioning (one connection per task).
 */
object Ingest {

  final case class Config(
      slowLogPath: String = null,
      dsn: String = null,
      table: String = "queries",
      batchSize: Int = 10000,
      amplify: Int = 1,
      driver: Option[String] = None,
      mode: String = "append",
      numPartitions: Option[Int] = None,
      tail: Boolean = false,
      checkpoint: Option[String] = None)

  /** A flag's integer value; a bad one fails naming the flag. */
  private[graft] def int(flag: String, v: String): Int =
    try v.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$flag expects an integer, got '$v'")
    }

  /** A flag's numeric value; a bad one fails naming the flag. */
  private[graft] def double(flag: String, v: String): Double =
    try v.toDouble catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$flag expects a number, got '$v'")
    }

  /** Parse reference-style `-flag value` pairs. */
  def parseArgs(args: Array[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case Nil => c
      case "-slowLogPath" :: v :: t => loop(t, c.copy(slowLogPath = v))
      case "-dsn" :: v :: t => loop(t, c.copy(dsn = v))
      case "-table" :: v :: t => loop(t, c.copy(table = v))
      case "-batchSize" :: v :: t =>
        loop(t, c.copy(batchSize = int("-batchSize", v)))
      case "-amplify" :: v :: t => loop(t, c.copy(amplify = int("-amplify", v)))
      case "-driver" :: v :: t => loop(t, c.copy(driver = Some(v)))
      case "-mode" :: v :: t => loop(t, c.copy(mode = v))
      case "-numPartitions" :: v :: t =>
        loop(t, c.copy(numPartitions = Some(int("-numPartitions", v))))
      case "-tail" :: t => loop(t, c.copy(tail = true))
      case "-checkpoint" :: v :: t => loop(t, c.copy(checkpoint = Some(v)))
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown or valueless flag: $other")
    }
    val c = loop(args.toList, Config())
    require(c.slowLogPath != null, "-slowLogPath is required")
    require(c.dsn != null, "-dsn is required")
    require(c.amplify >= 1, "-amplify must be >= 1")
    require(c.batchSize >= 1, "-batchSize must be >= 1")
    require(c.numPartitions.forall(_ >= 1), "-numPartitions must be >= 1")
    require(!c.tail || c.checkpoint.nonEmpty,
      "-tail requires -checkpoint (the resume state, as the reference's byte offset)")
    require(!c.tail || c.amplify == 1, "-amplify is a batch-mode flag")
    // the streaming sink is append-only by construction; silently
    // accepting -mode would ignore it
    require(!c.tail || c.mode == "append", "-mode is a batch-mode flag")
    c
  }

  /** `parquet:<dir>` DSNs select the native warehouse sink (the
    * Spark-world analog of the reference's ClickHouse target):
    * date-partitioned parquet via [[graft.sources.Warehouse]]. */
  private def parquetPath(c: Config): Option[String] =
    Option(c.dsn).filter(_.startsWith("parquet:")).map(_.stripPrefix("parquet:"))

  private def driverFor(c: Config): String = c.driver.getOrElse {
    if (c.dsn.startsWith("jdbc:duckdb:")) "org.duckdb.DuckDBDriver"
    else if (graft.sources.ClickHouseDialect.canHandle(c.dsn))
      "com.clickhouse.jdbc.ClickHouseDriver"
    else throw new IllegalArgumentException(
      s"cannot infer a JDBC driver class for '${c.dsn}' — pass -driver")
  }

  /** ClickHouse DSNs (`jdbc:clickhouse:` / `jdbc:ch:`) get the
    * reference's full sink contract: dialect registered, then
    * create-if-missing via the GENERATED MergeTree DDL
    * ([[graft.sources.ClickHouseSink.ensureTable]]) before the batch
    * insert — a bare Spark JDBC create is invalid in ClickHouse (no
    * ENGINE clause). Generation is golden-tested offline; execution
    * needs the live server + driver jar (README boundary). */
  private def prepareClickHouse(c: Config,
      schema: org.apache.spark.sql.types.StructType): Unit =
    if (graft.sources.ClickHouseDialect.canHandle(c.dsn)) {
      graft.sources.ClickHouseDialect.register()
      graft.sources.ClickHouseSink.ensureTable(c.dsn, driverFor(c),
        schema, c.table)
    }

  /** Single-writer embedded targets cannot take concurrent connections. */
  private def defaultPartitions(c: Config): Option[Int] =
    if (c.dsn.startsWith("jdbc:duckdb:")) Some(1) else None

  /** `-mode overwrite` against a ClickHouse DSN maps to the JDBC
    * writer's truncate path (keep the prepared MergeTree table, empty
    * it) — drop-and-recreate would re-issue Spark's ENGINE-less
    * CREATE TABLE, which ClickHouse rejects. */
  private[graft] def truncateForOverwrite(dsn: String, mode: String): Boolean =
    graft.sources.ClickHouseDialect.canHandle(dsn) &&
      mode.equalsIgnoreCase("overwrite")

  /** The whole reference job as one declarative plan. */
  def run(spark: SparkSession, c: Config): Unit = {
    val events = SlowLogSource.readRaw(spark, c.slowLogPath).drop("file")
    val amplified = if (c.amplify > 1) Amplify(events, c.amplify) else events
    val wide = SlowLogTable.flatten(amplified)
    parquetPath(c) match {
      case Some(path) =>
        val save = c.mode.toLowerCase match {
          case "append" => org.apache.spark.sql.SaveMode.Append
          case "overwrite" => org.apache.spark.sql.SaveMode.Overwrite
          case "ignore" => org.apache.spark.sql.SaveMode.Ignore
          case "error" | "errorifexists" =>
            org.apache.spark.sql.SaveMode.ErrorIfExists
          case other =>
            throw new IllegalArgumentException(s"unknown -mode: $other")
        }
        graft.sources.Warehouse.writePartitioned(wide, path, save)
      case None =>
        prepareClickHouse(c, wide.schema)
        // overwrite on ClickHouse must TRUNCATE the prepared table:
        // Spark's default overwrite drops and re-creates with an
        // ENGINE-less CREATE TABLE, invalid on a live server — the
        // prepared MergeTree DDL would be thrown away mid-run
        JdbcSink.write(wide, c.dsn, c.table,
          driverFor(c), mode = c.mode, batchSize = c.batchSize,
          numPartitions = c.numPartitions.orElse(defaultPartitions(c)),
          truncate = truncateForOverwrite(c.dsn, c.mode))
    }
  }

  /** The reference's default mode: tail the log directory continuously,
    * resuming from the checkpoint (its byte-offset file, as Structured
    * Streaming state). `trigger` is exposed for tests
    * (`Trigger.AvailableNow` drains and stops). */
  def runTail(spark: SparkSession, c: Config,
              trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wide = graft.streaming.SlowLogStream.wideRows(
      graft.streaming.SlowLogStream.events(spark, c.slowLogPath))
    parquetPath(c) match {
      case Some(path) =>
        // streaming warehouse sink: same date-partitioned layout as the
        // batch path, exactly-once per file via the checkpoint
        val w = wide
          .withColumn("q_date", org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.col("ts")))
          .writeStream.format("parquet")
          .option("path", path)
          .option("checkpointLocation", c.checkpoint.get)
          .partitionBy("q_date")
        trigger.foreach(w.trigger)
        w.start()
      case None =>
        prepareClickHouse(c, wide.schema)
        graft.streaming.SlowLogStream.startJdbcSink(
          wide, c.dsn, c.table, driverFor(c), c.checkpoint.get, trigger,
          batchSize = c.batchSize,
          numPartitions = c.numPartitions.orElse(defaultPartitions(c)))
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = GraftSession.build("graft-ingest")
    try {
      if (c.tail) runTail(spark, c).awaitTermination()
      else run(spark, c)
    } finally spark.stop()
  }
}
