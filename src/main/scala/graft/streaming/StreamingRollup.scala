package graft.streaming

import graft.operators.Rollup
import graft.sources.{Layout, Warehouse}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming twin of the incremental rollup ([[graft.operators.Rollup]]):
 * each micro-batch reduces to per-(day, type) PARTIAL aggregates that
 * append blind onto the at-rest rollup table — the standing table is
 * never read on the hot path, so per-batch cost ∝ batch, exactly the
 * admission-control maintenance property the dedup/ANN index families
 * measure flat (`BENCH_SCALED` `*_append`/`*_admit`).
 *
 * Exactly-once WITHOUT coordination: every appended partial row is
 * stamped with the micro-batch id. A batch replayed after a mid-write
 * crash re-derives BIT-identical partials (integer count/sum/min/max of
 * the same checkpointed input), so [[readRollup]] restores exact-once
 * semantics with one `dropDuplicates(batch_id, day, event_type)` before
 * the merge — no transactional table format needed, just the monoid +
 * determinism contract. (Contrast [[StreamingDedup]], where replayed
 * index rows are harmless by idempotence of the probe; here a replayed
 * COUNT would double, so the batch-id stamp is load-bearing.)
 */
object StreamingRollup {

  /** Start the sink: micro-batches → stamped partials → blind append. */
  def rollupSink(events: DataFrame, dayCol: Column, typeCol: Column,
                 valueCol: Column, table: String, checkpointDir: String,
                 buckets: Int = 8): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, batchId, dayCol, typeCol, valueCol, table,
          buckets)
      }
      .start()

  /** One maintenance round — also the BATCH API for shipping a day's
    * partition onto the standing rollup with a caller-chosen id. */
  def appendBatch(batch: DataFrame, batchId: Long, dayCol: Column,
                  typeCol: Column, valueCol: Column, table: String,
                  buckets: Int = 8): Unit = {
    val partials = Rollup.dailyPartials(batch, dayCol, typeCol, valueCol)
      .withColumn("batch_id", lit(batchId))
    val layout = Layout.Rollup.copy(floor = buckets)
    if (batch.sparkSession.catalog.tableExists(table))
      Warehouse.append(layout, table, partials)
    else Warehouse.save(layout, table, partials)
  }

  /** Merged presentation with replayed batches collapsed: duplicate
    * (batch_id, key) partials are bit-identical, so the dropDuplicates
    * is exact-once restoration, not approximation. */
  def readRollup(spark: org.apache.spark.sql.SparkSession,
                 table: String): DataFrame =
    Rollup.finalizeRollup(
      spark.table(table)
        .dropDuplicates("batch_id", "day", "event_type")
        .drop("batch_id"))
}
