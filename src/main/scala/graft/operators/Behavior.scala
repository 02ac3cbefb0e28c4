package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Event-sequence (behavioral) analytics over an event stream table:
 * ordered-funnel conversion, cohort retention, top navigation paths,
 * and change-interval (SCD-2 style) history. These are the
 * consumption-side reports a product/ops team runs on the same
 * `events`-shaped table the QAN reports read — reference analog:
 * the QAN UI's per-class drill-downs (SURVEY.md §2.2 "QAN query
 * surface"), generalized to arbitrary event sequences.
 *
 * All four operators shuffle on the entity key exactly once per pass
 * and aggregate before anything wide: state per entity is a handful of
 * timestamps or run boundaries, never the event list, so the shapes
 * hold at 100 TB where per-user event collections would not.
 */
object Behavior {

  /**
   * Ordered funnel — how many entities reached stage 1, then stage 2
   * AFTER their stage-1 time, then stage 3 after that, … Strict
   * ordering (a click before the first view does not count) is what
   * separates a funnel from `count(distinct user) per type`.
   *
   * One aggregation pass per stage, each shuffling on `keyCol` — and
   * because every pass groups on the SAME key, the sort-order from the
   * first exchange is reusable (AQE coalesces; no re-partition between
   * stages). Per-entity state is ONE timestamp per stage. The
   * alternative single-pass formulation (collect_list + sequential
   * scan per user) holds the whole event history per entity in memory
   * and is exactly what this avoids.
   *
   * Returns one row per stage: `(stage_ord, stage, n_entities)` with
   * entities counted while they are still converting.
   *
   * `maxGap` (same unit as `tsCol`) bounds each stage transition: the
   * stage-k event must land within `maxGap` of the stage-(k−1) time —
   * the "conversion window" every production funnel carries (a click
   * three weeks after the view is not a conversion). The bound is a
   * row predicate on the same join; the shape is unchanged.
   */
  def funnel(events: DataFrame, keyCol: String, tsCol: Column,
             typeCol: Column, stages: Seq[String],
             maxGap: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    def withinGap: Column = maxGap match {
      case Some(g) => tsCol > col("_t") && tsCol <= col("_t") + g
      case None    => tsCol > col("_t")
    }
    // reached(i): per-entity earliest time of stage i AFTER reached(i-1).
    // Start: earliest stage-0 event per entity.
    var reached = events.filter(typeCol === stages.head)
      .groupBy(col(keyCol)).agg(min(tsCol).as("_t"))
    val counts = Seq.newBuilder[DataFrame]
    counts += reached.agg(count(lit(1)).as("n_entities"))
      .select(lit(1L).as("stage_ord"), lit(stages.head).as("stage"),
        col("n_entities"))
    stages.zipWithIndex.drop(1).foreach { case (stage, i) =>
      reached = events.filter(typeCol === stage)
        .join(reached, keyCol)
        .filter(withinGap)
        .groupBy(col(keyCol)).agg(min(tsCol).as("_t"))
      counts += reached.agg(count(lit(1)).as("n_entities"))
        .select(lit(i + 1L).as("stage_ord"), lit(stage).as("stage"),
          col("n_entities"))
    }
    counts.result().reduce(_ union _).orderBy("stage_ord")
  }

  /**
   * Per-entity conversion times — [[funnel]]'s row-level companion:
   * for every entity that completes the WHOLE stage chain, its
   * stage-one time, final-stage time, and elapsed duration. Same
   * min-after-previous fold and same one-timestamp-per-stage state;
   * the first-stage time rides the chain as a carried group key
   * (functionally dependent on the entity — no extra cardinality).
   */
  def conversionTimes(events: DataFrame, keyCol: String, tsCol: Column,
                      typeCol: Column, stages: Seq[String],
                      maxGap: Option[Long] = None): DataFrame = {
    require(stages.size >= 2, "conversionTimes needs at least two stages")
    def withinGap: Column = maxGap match {
      case Some(g) => tsCol > col("_t") && tsCol <= col("_t") + g
      case None    => tsCol > col("_t")
    }
    var reached = events.filter(typeCol === stages.head)
      .groupBy(col(keyCol)).agg(min(tsCol).as("_t"))
      .withColumn("_t1", col("_t"))
    stages.drop(1).foreach { stage =>
      reached = events.filter(typeCol === stage)
        .join(reached, keyCol)
        .filter(withinGap)
        .groupBy(col(keyCol), col("_t1")).agg(min(tsCol).as("_t"))
    }
    reached.select(col(keyCol), col("_t1").as("t_first"),
        col("_t").as("t_last"), (col("_t") - col("_t1")).as("elapsed"))
      .orderBy(keyCol)
  }

  /**
   * Cohort retention — entities grouped by their first-activity bucket
   * (the cohort), counted at each later activity offset: the classic
   * "day-N retention" triangle. `bucketCol` is a caller expression
   * (day number, week, release id), so calendar rules stay out of the
   * operator.
   *
   * Two aggregations: distinct (entity, bucket) activity — map-side
   * partial distinct, bucket count per entity is calendar-bounded —
   * then a min-bucket cohort per entity derived from the SAME frame
   * (no second scan of the raw events), a self-join on the entity key
   * (one shuffle, both sides already entity-keyed), and a final
   * cohort×offset rollup whose key space is offsets², tiny at any
   * data size.
   */
  def retention(events: DataFrame, keyCol: String, bucketCol: Column): DataFrame =
    retentionFromActivity(
      events.select(col(keyCol), bucketCol.as("_b")), keyCol, "_b")

  /**
   * [[retention]] WITHOUT the event rescan — the cohort triangle served
   * from a STORED distinct-activity frame `(key, bucket)` (the at-rest
   * posture: daily batches blind-append their distinct (entity, day)
   * rows — an activity table is orders of magnitude smaller than the
   * event log, and the triangle rebuilds from it exactly). Merge-on-read
   * is one distinct (idempotent over replayed batch appends and
   * cross-batch repeats), so appends need no coordination. Equality
   * with the event-level run is by construction: [[retention]] itself
   * now routes through this after projecting (key, bucket).
   */
  def retentionFromActivity(activity: DataFrame, keyCol: String,
                            bucketCol: String): DataFrame = {
    val active = activity.select(col(keyCol), col(bucketCol).as("_b"))
      .distinct()
    val cohort = active.groupBy(col(keyCol)).agg(min("_b").as("_cohort"))
    active.join(cohort, keyCol)
      .groupBy(col("_cohort").as("cohort"),
        (col("_b") - col("_cohort")).as("offset"))
      .agg(count(lit(1)).as("n_entities"))
      .orderBy("cohort", "offset")
  }

  /**
   * Session statistics — gaps-and-islands with an inactivity timeout:
   * events separated by more than `maxGap` start a new session; each
   * session reports its event count and exact-integer span. The
   * per-session row set q24's start-count summarizes — duration
   * percentiles, events-per-session, and bounce analysis all read
   * from this frame. Same single entity-key shuffle as
   * [[changeIntervals]] (lag flag + running sum share one window
   * chain); all outputs are exact integers.
   */
  def sessionStats(events: DataFrame, keyCol: String, tsCol: Column,
                   idCol: Column, maxGap: Long): DataFrame = {
    require(maxGap > 0, "session timeout must be positive")
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("_ts"), col("_id"))
    events
      .select(col(keyCol), tsCol.as("_ts"), idCol.as("_id"))
      .withColumn("_new",
        when(lag(col("_ts"), 1).over(ord).isNull ||
          col("_ts") - lag(col("_ts"), 1).over(ord) > maxGap, 1L)
          .otherwise(0L))
      .withColumn("_sid", sum(col("_new")).over(
        Window.partitionBy(col(keyCol)).orderBy(col("_ts"), col("_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("_sid").as("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min("_ts").as("t_start"), max("_ts").as("t_end"))
      .withColumn("duration", col("t_end") - col("t_start"))
      .orderBy(col(keyCol), col("session_id"))
  }

  /**
   * Segmented funnel — [[funnel]] split by an entity-constant segment
   * (experiment arm, acquisition channel, plan tier): one count row
   * per (stage, segment), the "did arm B convert better?" readout that
   * pairs with [[Qan.abWelch]]. The segment rides each fold stage as a
   * dependent group key (entity-constant by contract — no added
   * cardinality); stage counts aggregate per segment instead of
   * globally. Same shapes, same one-timestamp state.
   */
  def funnelBySegment(events: DataFrame, keyCol: String, segCol: Column,
                      tsCol: Column, typeCol: Column,
                      stages: Seq[String],
                      maxGap: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    def withinGap: Column = maxGap match {
      case Some(g) => tsCol > col("_t") && tsCol <= col("_t") + g
      case None    => tsCol > col("_t")
    }
    var reached = events.filter(typeCol === stages.head)
      .groupBy(col(keyCol), segCol.as("segment"))
      .agg(min(tsCol).as("_t"))
    val counts = Seq.newBuilder[DataFrame]
    def stageCounts(ord: Int, stage: String): DataFrame =
      reached.groupBy("segment").agg(count(lit(1)).as("n_entities"))
        .select(lit(ord.toLong).as("stage_ord"), lit(stage).as("stage"),
          col("segment"), col("n_entities"))
    counts += stageCounts(1, stages.head)
    stages.zipWithIndex.drop(1).foreach { case (stage, i) =>
      reached = events.filter(typeCol === stage)
        .join(reached, keyCol)
        .filter(withinGap)
        .groupBy(col(keyCol), col("segment")).agg(min(tsCol).as("_t"))
      counts += stageCounts(i + 1, stage)
    }
    counts.result().reduce(_ union _).orderBy("stage_ord", "segment")
  }

  /**
   * Top navigation paths — the first `depth` events per entity,
   * concatenated in time order, counted across entities: "what do the
   * first five things a user does look like?". Ties inside one
   * timestamp break on `idCol` so the path string is deterministic.
   *
   * One bounded aggregate ([[graft.functions.PathPrefix]], the r12
   * rewrite of the window formulation whose full-stream rank sort
   * measured a 1.30 scaling exponent at 100×): the buffer is a
   * mergeable first-`depth` summary, so the map side combines before
   * the entity-key exchange and only ≤ depth events per (task,
   * entity) are shuffled — no stage sorts the event stream. Then a
   * path-count rollup whose cardinality is |types|^depth at worst but
   * Zipf-concentrated in practice. `tsCol`/`idCol` must be integral
   * (they are cast to long for the order key).
   */
  def topPaths(events: DataFrame, keyCol: String, tsCol: Column,
               idCol: Column, typeCol: Column, depth: Int,
               topK: Int): DataFrame = {
    val pathAgg = udaf(new graft.functions.PathPrefix(depth),
      org.apache.spark.sql.Encoders.product[graft.functions.PathEvent])
    val paths = events
      .select(col(keyCol), tsCol.cast("long").as("_ts"),
        idCol.cast("long").as("_id"), typeCol.as("_ty"))
      .groupBy(col(keyCol))
      .agg(pathAgg(col("_ts"), col("_id"), col("_ty")).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_entities"))
      .orderBy(col("n_entities").desc, col("path"))
      .limit(topK)
  }

  /**
   * First-order transition matrix — `P(next = b | current = a)` over
   * each entity's time-ordered event sequence: the Markov summary of
   * [[topPaths]]' raw sequences (paths enumerate, this generalizes).
   * One lead window on the entity-key shuffle, one pair-keyed count
   * (key space |types|², tiny at any data size), and a window-free
   * probability: `cnt / total(from)` is ONE division of two exact
   * counts — identical doubles on every engine, nothing accumulates.
   */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: Column,
                       idCol: Column, typeCol: Column): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("_ts"), col("_id"))
    val pairs = events
      .select(col(keyCol), tsCol.as("_ts"), idCol.as("_id"),
        typeCol.as("_ty"))
      .withColumn("_next", lead(col("_ty"), 1).over(ord))
      .filter(col("_next").isNotNull)
      .groupBy(col("_ty").as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = pairs.groupBy("from_type").agg(sum("cnt").as("_tot"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("cnt"),
        round(col("cnt") / col("_tot"), 4).as("prob"))
      .orderBy("from_type", "to_type")
  }

  /**
   * Inter-event gap census — per entity, the distribution of waiting
   * times between consecutive events (count, mean, min/max): the
   * dwell-time/liveness profile read next to [[retention]], and the
   * input a session-timeout choice is calibrated from. One lag window
   * and one aggregation on the same entity-key shuffle; per-entity
   * state is the lag buffer, never the event list. Entities with a
   * single event carry zero gaps and null stats (kept — absence of
   * gaps IS the signal).
   */
  def interEventGaps(events: DataFrame, keyCol: String, tsCol: Column,
                     idCol: Column): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("_ts"), col("_id"))
    events
      .select(col(keyCol), tsCol.as("_ts"), idCol.as("_id"))
      .withColumn("_gap", col("_ts") - lag(col("_ts"), 1).over(ord))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        count(col("_gap")).as("n_gaps"),
        sum(col("_gap")).as("_gsum"),
        min(col("_gap")).as("min_gap"),
        max(col("_gap")).as("max_gap"))
      // NOT avg(), and not even round(sum/count, 4): both flip the 4th
      // decimal between engines at ~1e10 magnitudes (double-rounding at
      // a half boundary — hit live at sf0.1). The mean of an integer
      // gap is reported as INTEGER µs: exact arithmetic end to end,
      // nothing to round. Gaps are non-negative, so floor (DuckDB //)
      // and truncation (Spark div) agree.
      .withColumn("avg_gap",
        when(col("n_gaps") > 0, expr("_gsum div n_gaps")))
      .select(col(keyCol), col("n_events"), col("n_gaps"), col("avg_gap"),
        col("min_gap"), col("max_gap"))
      .orderBy(col(keyCol))
  }

  /**
   * Association pairs (market-basket lift): for items co-occurring in
   * the same transaction, `lift = P(a,b) / (P(a)·P(b))` with a support
   * floor — the "bought together" readout over any (transaction, item)
   * frame. Pair generation is a transaction-keyed self-join, so the
   * work is Σ_tx |items|² — bounded by the basket size (single-digit
   * in order data), NEVER |items|² corpus-wide; the transaction count
   * rides in as a broadcast one-row frame and lift is two integer
   * products and one division of exact counts (deterministic on every
   * engine). Top pairs by (rounded lift, pair) — a total order.
   */
  def associationPairs(transactions: DataFrame, txCol: String,
                       itemCol: String, minSupport: Long,
                       topK: Int): DataFrame = {
    // distinct basket set materialized once: read by the tx census, the
    // item census, and both legs of the pair join (4×, r16)
    val it = transactions.select(col(txCol).as("_tx"), col(itemCol).as("_it"))
      .distinct().transform(Materialize(_))
    val nTx = it.agg(countDistinct(col("_tx")).as("_n"))
    val ci = it.groupBy("_it").agg(count(lit(1)).as("_c"))
    val cp = it.select(col("_tx"), col("_it").as("ia"))
      .join(it.select(col("_tx"), col("_it").as("ib")), Seq("_tx"))
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("cp"))
      .filter(col("cp") >= minSupport)
    cp
      .join(ci.select(col("_it").as("ia"), col("_c").as("_ca")), "ia")
      .join(ci.select(col("_it").as("ib"), col("_c").as("_cb")), "ib")
      .crossJoin(broadcast(nTx))
      .select(col("ia"), col("ib"), col("cp"),
        round(col("cp").cast("double") * col("_n") / (col("_ca") * col("_cb")), 4)
          .as("lift"))
      .orderBy(col("lift").desc, col("ia"), col("ib"))
      .limit(topK)
  }

  /**
   * Change intervals (gaps-and-islands → SCD-2 history): collapse each
   * entity's event sequence into maximal runs of an unchanged value,
   * emitting `[valid_from, valid_to)` rows with `valid_to` open (null)
   * on the current run — the slowly-changing-dimension type-2 shape,
   * built from an append-only log.
   *
   * Two stacked windows over ONE partitioning (lag to flag changes,
   * running sum to number runs — Catalyst evaluates both in a single
   * Window node chain on one shuffle of the entity key) and a run-key
   * aggregation. Per-entity window state is a lag buffer and a counter;
   * the output is runs, which is ≤ events and typically far smaller.
   */
  def changeIntervals(events: DataFrame, keyCol: String, tsCol: Column,
                      idCol: Column, valueCol: Column): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col("_ts"), col("_id"))
    val flagged = events
      .select(col(keyCol), tsCol.as("_ts"), idCol.as("_id"),
        valueCol.as("_v"))
      .withColumn("_chg",
        when(lag(col("_v"), 1).over(ord).isNull ||
             lag(col("_v"), 1).over(ord) =!= col("_v"), 1L).otherwise(0L))
      .withColumn("_run", sum(col("_chg")).over(
        Window.partitionBy(col(keyCol)).orderBy(col("_ts"), col("_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = flagged.groupBy(col(keyCol), col("_run"))
      .agg(min(col("_v")).as("value"), // constant within a run
        min("_ts").as("valid_from"), count(lit(1)).as("n_events"),
        max("_ts").as("_last"))
    val nxt = Window.partitionBy(col(keyCol)).orderBy(col("_run"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(nxt))
      .select(col(keyCol), col("_run").as("run_id"), col("value"),
        col("valid_from"), col("valid_to"), col("n_events"))
      .orderBy(col(keyCol), col("run_id"))
  }

  /**
   * RFM segmentation — the customer-value grid: per entity, recency
   * (last activity), frequency (event count), monetary (value sum),
   * each quartiled into `buckets` tiles, concatenated to a segment
   * code, segments counted: `(rfm, n_users)`.
   *
   * Scale shape: `ntile` over an UNPARTITIONED window moves the entire
   * entity frame to one reducer — the single-partition cliff
   * [[graft.operators.Pipeline.globalRank]] exists to remove — so each
   * metric ranks through globalRank's range-partitioned zipWithIndex
   * instead, and the tile is recovered ARITHMETICALLY from (rank, n):
   * with q = n/k and r = n%k, the first r tiles carry q+1 rows —
   * exactly SQL ntile's remainder rule — so
   * `tile = rn ≤ r(q+1) ? ⌈rn/(q+1)⌉ : r + ⌈(rn − r(q+1))/q⌉`,
   * bit-identical to the window function at any n (spec-proven against
   * it). Descending metrics rank ascending on the NEGATED value with
   * the entity id as unique tiebreak (the q104 determinism rule); n
   * rides in as a broadcast one-row count frame so the plan stays
   * fully lazy. Cost: one entity aggregate + three range-partitioned
   * rank passes + three id-keyed equi-joins of (id, tile) frames —
   * everything partitioned, nothing entity-frame-sized on one node.
   */
  def rfmSegments(events: DataFrame, keyCol: String, tsCol: Column,
                  valueCol: Column, buckets: Int = 4): DataFrame = {
    // Materialized (the dedupClusters precedent): four
    // consumers read this frame (three rank passes — each a separate
    // zipWithIndex job — plus the final key projection), and without
    // materialization EACH re-aggregates the full event corpus.
    val byUser = events.groupBy(col(keyCol))
      .agg(max(tsCol).as("_last"), count(lit(1)).as("_freq"),
        round(sum(valueCol), 4).as("_mon"))
      .transform(Materialize(_))
    val n = byUser.agg(count(lit(1)).as("_n"))
    def tiles(metric: Column, out: String): DataFrame = {
      val ranked = graft.operators.Pipeline.globalRank(
        byUser.withColumn("_neg", -metric), keyCol,
        Seq(col("_neg"), col(keyCol)))
      val q = expr(s"_n div $buckets")
      val r = expr(s"_n % $buckets")
      ranked.crossJoin(broadcast(n))
        .select(col(keyCol),
          when(col("rn") <= r * (q + 1),
            ceil(col("rn") / (q + 1)))
            .otherwise(r + ceil((col("rn") - r * (q + 1)) / q))
            .cast("int").as(out))
    }
    byUser.select(col(keyCol))
      .join(tiles(col("_last"), "_r"), keyCol)
      .join(tiles(col("_freq"), "_f"), keyCol)
      .join(tiles(col("_mon"), "_m"), keyCol)
      .groupBy(concat(col("_r"), col("_f"), col("_m")).as("rfm"))
      .agg(count(lit(1)).as("n_users"))
  }

  /**
   * Hour-of-day seasonal anomaly: flag (day, hour) load buckets whose
   * total deviates more than `z`σ from THAT HOUR's cross-day profile —
   * the "is 3 AM unusually busy *for 3 AM*" monitor a raw global
   * threshold can't express (q154's diurnal profile turned into a
   * detector). The z-test runs entirely on exact integers by
   * cross-multiplying the variance out: with m days, Σs, Σs² per hour,
   * `z² < (s−μ)²/Var  ⟺  (m·s − Σs)² > z²·(m·Σs² − (Σs)²)` — both
   * sides integer, so the flag cannot flip on an ulp ([[cusumChangepoint]]'s
   * rule applied to a second moment). `unitsCol` must already be in the
   * series' smallest integer unit (cents for money, µs for latency).
   * Returns `(day, hour, n, s_units, flagged)`.
   *
   * Scale shape: one map-side-combined bucket aggregate (the only
   * corpus-sized stage), a 24-row profile aggregate, one broadcast
   * join back. Magnitudes: the squares demand `m·Σs² ≲ 10¹⁸/z²` —
   * holds through ~10⁷ 2-decimal-valued events per hour-bucket; past
   * that, segment the series per metric/entity (the [[cusumChangepoint]]
   * note) or lift to DECIMAL(38).
   */
  /** Long multiply that RAISES instead of wrapping when the product's
    * magnitude nears Long range — the integer-exact monitors' documented
    * bounds, enforced (r12 advice: LongType wraps silently while the
    * DuckDB oracle computes in HUGEINT, so past the bounds the engines
    * would silently diverge). The magnitude check runs in double —
    * exact enough at the 4.4·10¹⁸ margin vs the 9.22·10¹⁸ wrap point,
    * and the margin keeps any SUM of two guarded products unwrappable
    * too. Per-day/per-bucket rows only — never a corpus-sized stage. */
  private def guardedTimes(a: Column, b: Column, what: String): Column = {
    val ok = abs(a.cast("double") * b.cast("double")) < lit(4.4e18)
    when(assert_true(ok, concat(lit(s"$what exceeds the integer-exact " +
      "magnitude bound (|product| >= 4.4e18) - segment the series " +
      "(per month / per entity) before scanning; operands "),
      a, lit(" * "), b)).isNull, a * b)
  }

  /** Long SUM guarded the same way: a double shadow of `Σ|term|`
    * (which bounds the total AND every accumulation-order partial, so
    * a transient wrap cannot hide behind a small signed total) raises
    * past the margin; under it, the long sum is exact. Two aggregates
    * in one expression — both codegen'd, both map-side-combined, so
    * the corpus-sized monitor aggregates keep their one-exchange
    * shape. */
  private def guardedSum(term: Column, what: String): Column = {
    // coalesce: a global agg over ZERO rows (e.g. a ranged report whose
    // window slices the series empty) yields a NULL sum, and
    // assert_true(NULL) raises with a null message — an empty series
    // is a legal input that must flow through as an empty result, not
    // a magnitude violation
    val shadow = coalesce(sum(abs(term).cast("double")), lit(0.0))
    when(assert_true(shadow < lit(4.4e18),
      concat(lit(s"$what exceeds the integer-exact magnitude bound " +
        "(sum(|term|) >= 4.4e18) - segment the series (per month / " +
        "per entity) before scanning; shadow="),
        shadow.cast("string"))).isNull, sum(term))
  }

  /** Windowed variant of [[guardedSum]]. */
  private def guardedSumOver(term: Column, w: org.apache.spark.sql
      .expressions.WindowSpec, what: String): Column = {
    val shadow = sum(abs(term).cast("double")).over(w)
    when(assert_true(shadow < lit(4.4e18),
      concat(lit(s"$what exceeds the integer-exact magnitude bound " +
        "(sum(|term|) >= 4.4e18) - segment the series before " +
        "scanning; shadow="), shadow.cast("string"))).isNull,
      sum(term).over(w))
  }

  def seasonalAnomaly(events: DataFrame, dayCol: Column, hourCol: Column,
                      unitsCol: Column, z: Int = 3): DataFrame = {
    val buckets = events
      .select(dayCol.cast("long").as("day"),
        hourCol.cast("long").as("hour"), unitsCol.as("_c"))
      .groupBy("day", "hour")
      .agg(count(lit(1)).as("n"),
        guardedSum(col("_c"), "seasonalAnomaly bucket sum").as("s_units"))
    // s² terms multiply in double for the shadow BEFORE the long
    // multiply can wrap, so the Σs² guard sees true magnitudes
    val prof = buckets.groupBy("hour")
      .agg(count(lit(1)).as("_m"),
        guardedSum(col("s_units"), "seasonalAnomaly hour sum").as("_ss"),
        guardedSum(guardedTimes(col("s_units"), col("s_units"),
          "seasonalAnomaly s**2"), "seasonalAnomaly sum(s**2)").as("_sq"))
    val dev = guardedTimes(col("_m"), col("s_units"),
      "seasonalAnomaly m*s") - col("_ss")
    val varN = guardedTimes(col("_m"), col("_sq"), "seasonalAnomaly m*sq") -
      guardedTimes(col("_ss"), col("_ss"), "seasonalAnomaly ss**2")
    buckets.join(broadcast(prof), "hour")
      .select(col("day"), col("hour"), col("n"), col("s_units"),
        (guardedTimes(dev, dev, "seasonalAnomaly dev**2") >
          guardedTimes(lit(z.toLong * z), varN, "seasonalAnomaly z2*var"))
          .as("flagged"))
  }

  /**
   * CUSUM changepoint scan over a daily metric series: the cumulative
   * deviation from the series mean, `S_t = Σ_{d≤t} (s_d − n_d·μ)`, with
   * the changepoint flagged at `argmax |S_t|` — the classic "where did
   * the level shift" statistic (a monitoring primitive over the same
   * per-day frame q145/q146 use). All arithmetic, INCLUDING the
   * presented columns, is exact integers: `unitsCol` enters in the
   * series' smallest integer unit (cents via the q194 trick, µs for
   * latency), and the mean is never divided out — multiplying
   * through by N turns the deviation into `C_t = N·Σs_d − (Σn_d)·S`
   * (emitted as `cum_dev`, in unit·N terms; both cumulative), which
   * both engines compute bit-identically, so neither the argmax nor
   * any output cell can flip on an ulp (a rounded float mean here
   * flipped a live 4-dp half boundary in q201's first draft; a
   * rounded CUSUM shares the failure mode).
   *
   * Scale shape: one map-side-combined per-day aggregate (the only
   * corpus-sized stage), then windows over the day-cardinality frame —
   * bounded by the calendar, the q146 precedent. Magnitudes: `N·S` ≲
   * 9·10¹⁸ holds through ~10⁹ events of 2-decimal values ≤ ~10³ —
   * GUARDED at runtime (r12, the silent-wrap advice): the cumulative
   * products are magnitude-checked in double before the long multiply
   * and raise instead of wrapping; past the bound, segment the series
   * (per month / per entity) before scanning — which a 100 TB
   * monitoring deployment does anyway.
   */
  def cusumChangepoint(events: DataFrame, dayCol: Column,
                       unitsCol: Column): DataFrame =
    cusumFromDaily(events
      .select(dayCol.cast("long").as("day"),
        unitsCol.cast("long").as("_c"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum("_c").as("_s")))

  /**
   * [[cusumChangepoint]] over an ALREADY-AGGREGATED daily frame
   * `(day, n, _s)` — the at-rest composition: a stored rollup's merged
   * partials ([[Rollup.mergePartials]]: `cnt`, `sum_v` summed over
   * types) feed the monitor directly, so the daily "did load shift"
   * check costs a calendar-sized table read, never an event rescan —
   * and because the partials are exact integers, the composed result
   * is BIT-identical to running the monitor on raw events
   * (spec-proven). The streamed stack is three flat pieces:
   * StreamingRollup appends ∝ batch, the monitor reads ∝ days.
   */
  def cusumFromDaily(daily: DataFrame): DataFrame = {
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.agg(
      guardedSum(col("n"), "cusum total N").as("_nt"),
      guardedSum(col("_s"), "cusum total S").as("_st"))
    val cum = daily.crossJoin(broadcast(tot))
      .withColumn("_cn", guardedSumOver(col("n"), wCum, "cusum cumN"))
      .withColumn("_cs", guardedSumOver(col("_s"), wCum, "cusum cumS"))
      .withColumn("_ct",
        guardedTimes(col("_nt"), col("_cs"), "cusum N*cumS") -
          guardedTimes(col("_cn"), col("_st"), "cusum cumN*S"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    cum
      .withColumn("_mx", max(abs(col("_ct"))).over(wAll))
      .withColumn("_d0", min(when(abs(col("_ct")) === col("_mx"),
        col("day"))).over(wAll))
      .select(col("day"), col("n"), col("_s").as("sum_units"),
        col("_ct").as("cum_dev"),
        (col("day") === col("_d0")).as("is_changepoint"))
  }
}
