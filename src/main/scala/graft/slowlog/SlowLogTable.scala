package graft.slowlog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Projection of parsed events onto the wide `queries` table (SURVEY.md
 * §2.1 R7–R9): fingerprint + digest identity columns plus the metric maps
 * flattened to one typed column per metric, absent metrics defaulting to
 * 0 / false (the reference's fixed ClickHouse schema declared NOT NULL
 * defaults).
 *
 * The fingerprint is the codegen'd `FingerprintExpr` ([[fingerprintCol]]);
 * `fingerprintUdf` wraps the same pure `String => String` as a
 * Scala UDF and stays as the parity reference (SURVEY.md §7 decision
 * ledger). The digest is pure built-ins (`upper(substring(md5(fp), 17,
 * 16))` — the last 16 hex chars, pt make_checksum semantics) and stays
 * inside whole-stage codegen.
 */
object SlowLogTable {

  /** Time metrics flattened to DOUBLE columns (seconds). */
  val TimeKeys: Seq[String] = Seq(
    "Query_time", "Lock_time", "InnoDB_IO_r_wait",
    "InnoDB_rec_lock_wait", "InnoDB_queue_wait")

  /** Count metrics flattened to LONG columns. */
  val NumberKeys: Seq[String] = Seq(
    "Rows_sent", "Rows_examined", "Rows_affected", "Bytes_sent",
    "Tmp_tables", "Tmp_disk_tables", "Tmp_table_sizes", "Merge_passes",
    "InnoDB_IO_r_ops", "InnoDB_IO_r_bytes", "InnoDB_pages_distinct",
    "Thread_id", "Killed", "Last_errno")

  /** Boolean metrics flattened to BOOLEAN columns. */
  val BoolKeys: Seq[String] = Seq(
    "QC_hit", "Full_scan", "Full_join", "Tmp_table", "Tmp_table_on_disk",
    "Filesort", "Filesort_on_disk")

  /** Column names and types of the wide table [[flatten]] produces, in
    * order. Declared, not inferred, so readers of a stored wide table
    * need no data file to know it: the warehouse of a log without events
    * holds none. */
  val WideSchema: StructType = StructType(
    Seq("digest", "fingerprint", "query", "db", "user", "host")
      .map(StructField(_, StringType)) ++
    Seq(StructField("ts", TimestampType), StructField("admin", BooleanType),
      StructField("offset", LongType), StructField("rate_type", StringType),
      StructField("rate_limit", LongType)) ++
    TimeKeys.map(k => StructField(k.toLowerCase, DoubleType)) ++
    NumberKeys.map(k => StructField(k.toLowerCase, LongType)) ++
    BoolKeys.map(k => StructField(k.toLowerCase, BooleanType)))

  val fingerprintUdf = udf((q: String) => Fingerprint.fingerprint(q))

  /** The codegen'd fingerprint ([[graft.functions.FingerprintExpr]]) —
    * the ingest default since the §7.4 profile measured the UDF
    * boundary at 31% of ingest wall time (SCALE.md §9). */
  def fingerprintCol(q: Column): Column =
    org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
      graft.functions.FingerprintExpr(
        org.apache.spark.sql.graftbridge.GraftColumnBridge.expression(q)))

  /** `digest` column from a fingerprint column — built-ins only. Last 16
    * hex chars of the MD5, matching pt-query-digest's checksum (see
    * [[Fingerprint.digestId]]). */
  def digestCol(fp: Column): Column = upper(substring(md5(fp), 17, 16))

  /** Register `fingerprint` / `digest_id` for Spark SQL use. */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.udf.register("fingerprint", (q: String) => Fingerprint.fingerprint(q))
    spark.udf.register("digest_id", (fp: String) =>
      if (fp == null) null else Fingerprint.digestId(fp))
  }

  /**
   * Events (schema of [[SlowLogEvent]], extra columns like `file`
   * tolerated) → wide `queries` table.
   */
  def flatten(events: DataFrame): DataFrame =
    flatten(events, fingerprintCol(col("query")))

  /** [[flatten]] with an explicit fingerprint expression — the knob the
    * SURVEY §7.4 ingest profile measures (real UDF vs identity column;
    * SCALE.md §9; perfbench's `slowlog.fingerprint_share` re-measures
    * it). */
  def flatten(events: DataFrame, fingerprint: Column): DataFrame = {
    val timeCols = TimeKeys.map(k =>
      coalesce(element_at(col("timeMetrics"), k), lit(0.0)).as(k.toLowerCase))
    val numCols = NumberKeys.map(k =>
      coalesce(element_at(col("numberMetrics"), k), lit(0L)).as(k.toLowerCase))
    val boolCols = BoolKeys.map(k =>
      coalesce(element_at(col("boolMetrics"), k), lit(false)).as(k.toLowerCase))

    events
      .withColumn("fingerprint", fingerprint)
      .withColumn("digest", digestCol(col("fingerprint")))
      .select(Seq(col("digest"), col("fingerprint"), col("query"),
        col("db"), col("user"), col("host"), col("ts"), col("admin"),
        col("offset"),
        // Percona sampling annotations, NOT-NULL defaults like the
        // metric columns: "" / 0 = unsampled log. rate_limit is the
        // multiplier QAN aggregates scale by (Qan.profile cnt_scaled).
        coalesce(col("rateType"), lit("")).as("rate_type"),
        coalesce(col("rateLimit"), lit(0L)).as("rate_limit"))
        ++ timeCols ++ numCols ++ boolCols: _*)
  }
}
