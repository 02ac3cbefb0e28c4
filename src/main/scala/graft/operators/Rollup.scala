package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental aggregate maintenance: an at-rest rollup table of
 * MERGEABLE PARTIAL aggregates (count / sum / min / max per key) that
 * new data APPENDS to instead of forcing a full recompute — the
 * admission-control posture (q40/q75/q199's index families) applied to
 * plain analytics. A daily ETL at 100 TB cannot re-aggregate the corpus
 * per batch; with partials it never has to:
 *
 *  - `dailyPartials` reduces a batch to one row per (day, type) —
 *    map-side-combined hash aggregate, cost ∝ batch;
 *  - `Layout.Rollup` stores the partials bucketed by `day`, and
 *    appending a batch's partials is a blind bucketed write (no read of
 *    the standing table, nothing to coordinate — count/sum/min/max are
 *    commutative monoids, so duplicate PARTIAL rows per key are the
 *    design, not corruption);
 *  - `finalizeRollup` merges on read: the bucketed scan already hash-
 *    distributes on `day`, which satisfies the (day, type) clustering,
 *    so the merge aggregate runs EXCHANGE-FREE (spec-asserted) over a
 *    table whose row count tracks keys × appended batches, not events;
 *  - read amplification from many small appends is the existing
 *    [[graft.sources.Warehouse.compactTable]] story — compaction here
 *    may additionally `mergePartials` to collapse history, since the
 *    finalized result is invariant under partial-merge (spec-proven).
 *
 * Determinism contract: feed the value in its smallest INTEGER unit
 * (cents — the q194 trick). Then every partial, every merge, and every
 * append is order-independent and BIT-exact, and the presented mean is
 * the exact integer `sum div cnt` (the q119/q137 rule) — a float
 * partial sum would make the stored rollup depend on arrival order,
 * and a 4-dp float mean flips on exact half boundaries between engines
 * (caught live: 30703 cents / 8 rows = 38.37875 rounding to .3787 vs
 * .3788). Conversion back to display units is the caller's one
 * division at the presentation edge.
 */
object Rollup {

  /**
   * Reduce events to per-(day, type) partial aggregates. `dayCol` is
   * the integer day key — callers over the `events()` loader pass
   * `expr("ts_ns div 86400000000000")` (integer division; the epoch-µs
   * rule's big brother — a double division would eat ns bits).
   * `valueCol` must be in integer units (see the determinism contract).
   * Output: (day, event_type, cnt, sum_v, min_v, max_v).
   */
  def dailyPartials(events: DataFrame, dayCol: Column, typeCol: Column,
                    valueCol: Column): DataFrame =
    events
      .select(dayCol.cast("long").as("day"),
        typeCol.as("event_type"), valueCol.cast("long").as("_v"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"), sum("_v").as("sum_v"),
        min("_v").as("min_v"), max("_v").as("max_v"))

  /**
   * Merge partial rows sharing a key into one partial row — the monoid
   * combine. Idempotent on already-merged input; `finalizeRollup` is
   * invariant under any interleaving of merges and appends.
   */
  def mergePartials(partials: DataFrame): DataFrame =
    partials
      .groupBy("day", "event_type")
      .agg(sum("cnt").as("cnt"), sum("sum_v").as("sum_v"),
        min("min_v").as("min_v"), max("max_v").as("max_v"))

  /**
   * Merge + present: (day, event_type, cnt, sum_v, mean_v, min_v,
   * max_v) — all exact integers; `mean_v` is `sum_v div cnt`
   * (truncating, = floor for the non-negative units the contract
   * feeds; DuckDB's `//` agrees there).
   */
  def finalizeRollup(partials: DataFrame): DataFrame =
    mergePartials(partials)
      .select(col("day"), col("event_type"), col("cnt"), col("sum_v"),
        expr("sum_v div cnt").as("mean_v"),
        col("min_v"), col("max_v"))

  /** The merged presentation of a stored rollup table. */
  def readRollup(spark: SparkSession, table: String): DataFrame =
    finalizeRollup(spark.table(table))

  /**
   * Distinct-count partials — the fourth mergeable aggregate of the
   * rollup family: per-(day, type) HLL sketches
   * (`hll_sketch_agg`, Apache DataSketches binary), stored and
   * appended exactly like the count/sum/min/max partials
   * ([[graft.sources.Layout.Rollup]] buckets on `day` and never
   * reads the standing table). Sketch union is the monoid combine, so
   * "distinct users per day" survives blind appends the way counts do
   * — the one aggregate exact partials CANNOT give incrementally
   * (distinct does not sum), which is exactly why the sketch earns its
   * ~1% error at 100 TB. Estimates are approximate, so the q78/q210
   * oracle contract is a tolerance bound, not a hash match.
   */
  def distinctPartials(events: DataFrame, dayCol: Column, typeCol: Column,
                       entityCol: Column): DataFrame =
    events
      .select(dayCol.cast("long").as("day"),
        typeCol.as("event_type"), entityCol.as("_e"))
      .groupBy("day", "event_type")
      .agg(expr("hll_sketch_agg(_e)").as("sk"))

  /** Merge stored sketch partials and estimate: (day, event_type,
    * est) — exchange-free off the day-bucketed scan like
    * [[finalizeRollup]]. */
  def estimateDistinct(partials: DataFrame): DataFrame =
    partials
      .groupBy("day", "event_type")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
}
