package graft

import graft.operators.{Dedup, Materialize, Similarity}
import graft.sources.{Layout, Side, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale-stress harness (r7 verdict item 1): runs the expensive
 * dedup/ANN operators on synthetically grown sf0.1 corpora and prints
 * one JSON line with per-operator seconds per scale and the fitted
 * scaling exponent (t ∝ scaleᵅ between the two largest scales, where
 * the per-job overhead floor is smallest). `> BENCH_SCALED.json`.
 *
 * Corpus growth is LINEAR BY CONSTRUCTION, preserving the per-replica
 * workload distribution instead of exploding it:
 *  - documents: every replica salts each token with its replica id, so
 *    shingles collide within a replica exactly like the original corpus
 *    but NEVER across replicas — near-dup pairs/clusters grow k×, not
 *    k²× (naive replication makes every copy a near-dup of its siblings,
 *    which benchmarks the pathology, not the operator);
 *  - embeddings: replicas get deterministic hash noise per element, so
 *    no zero-distance duplicate pairs distort the top-k work.
 *
 * Methodology: scaled inputs are persisted + counted BEFORE timing
 * (synthesis and index builds are excluded from probe timings exactly
 * like the q41c/q75b bench split); one timed pass per (op, scale) after
 * a JIT warm-up op at 1×, noop sink like Bench.
 */
object ScaleBench {

  /** k× documents with per-replica token salting (linear pair growth);
    * lang rides along for the block-keyed ops (q102). */
  def scaleDocs(spark: SparkSession, sf: String, k: Int): DataFrame = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "lang")
    if (k == 1) docs
    else docs.crossJoin(spark.range(k).toDF("rep"))
      .select(
        (col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            x => concat(x, lit("_"), col("rep"))), " ")).as("text"),
        col("lang"))
  }

  /** k× embeddings with deterministic per-replica element noise. */
  def scaleEmb(spark: SparkSession, sf: String, k: Int): DataFrame = {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    if (k == 1) emb
    else emb.crossJoin(spark.range(k).toDF("rep"))
      .select(
        (col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          (x.cast("double") + when(col("rep") === 0, lit(0.0)).otherwise(
            (pmod(xxhash64(col("vec_id"), col("rep"), j), lit(101L)) - lit(50L))
              .cast("double") / 250.0)).cast("float")).as("embedding"))
  }

  /** k× events projected to (event_type, value, day) with per-replica
    * day shifts: day cardinality grows k× (so the PERSISTED per-day
    * sketch frame grows k×) while the merged group space stays fixed —
    * the q91 at-rest shape. Handles both shipped ts layouts. */
  def scaleEvents(spark: SparkSession, sf: String, k: Int): DataFrame = {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val base = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("day", expr("ts div 86400000000000"))
      case _ =>
        raw.withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
    }).select("event_type", "value", "day")
    if (k == 1) base
    else base.crossJoin(spark.range(k).toDF("rep"))
      .select(col("event_type"), col("value"),
        (col("day") + col("rep") * 40L).as("day"))
  }

  /** k× events keyed for the behavioral operators: user population
    * grows k× (fresh user ids per replica), per-user history length
    * stays FIXED — the realistic scale axis for funnel/retention/path
    * workloads (more entities, not longer entities), so per-key window
    * state stays constant while the shuffled volume grows. Handles both
    * shipped ts layouts; time as epoch-µs. */
  def scaleUserEvents(spark: SparkSession, sf: String, k: Int): DataFrame = {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val base = (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("us", expr("ts div 1000"))
      case _ =>
        raw.withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
    }).select("user_id", "event_id", "event_type", "us", "value")
    if (k == 1) base
    else base.crossJoin(spark.range(k).toDF("rep"))
      .select(
        (col("user_id") + col("rep") * 10000000L).as("user_id"),
        (col("event_id") + col("rep") * 1000000000L).as("event_id"),
        col("event_type"), col("us"), col("value"))
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scales = args.headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 10))
    // optional second arg: comma-list of ops (big scales can be run in
    // slices and merged — the JSON carries times per op independently)
    val opFilter = args.lift(1).map(_.split(",").toSet)
    def want(op: String): Boolean = opFilter.forall(_.contains(op))
    val spark = GraftSession.build("graft-scalebench")

    def time(f: => DataFrame): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // min-of-2 for short passes (Bench methodology — single passes of
      // seconds-long jobs measured 10× flukes from GC/scheduling);
      // minute-plus passes amortize that noise and run once
      val t1 = once()
      if (t1 < 60) math.min(t1, once()) else t1
    }
    // side-effecting passes (warehouse appends): same min-of-2 rule;
    // re-appending the same batch is timing-equivalent (cost ∝ batch)
    def timeUnit(f: => Unit): Double = {
      def once(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val t1 = once()
      if (t1 < 60) math.min(t1, once()) else t1
    }

    // JIT/codegen warm-up at 1× (untimed)
    Dedup.ngramJaccardPairs(scaleDocs(spark, sf, 1), "doc_id", "text", 3, 0.6)
      .write.format("noop").mode("overwrite").save()

    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    def record(op: String, k: Int, secs: Double): Unit = {
      results.getOrElseUpdate(op,
        scala.collection.mutable.LinkedHashMap.empty[Int, Double])(k) = secs
      System.err.println(f"SCALE $op%-14s ${k}%3dx  $secs%8.2f s")
    }
    // (scale → (config-bits, recall@3)) per op, emitted inside the op's
    // JSON object so accuracy ships next to the cost it was bought at
    val recalls = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, (Int, Double)]]
    def recordRecall(op: String, k: Int, bits: Int, rec: Double): Unit = {
      recalls.getOrElseUpdate(op,
        scala.collection.mutable.LinkedHashMap.empty[Int, (Int, Double)])(k) =
        (bits, rec)
      System.err.println(f"SCALE $op%-14s ${k}%3dx  bits=$bits%2d  recall@3=$rec%.3f")
    }

    for (k <- scales) {
      // the slow-log surface: parse throughput and the QAN report over
      // the flattened warehouse, both at k× the event count. File count
      // scales with k (fixed per-file size) — the rotated-log-directory
      // shape a 100 TB deployment actually has, so the scan stays
      // file-granular-parallel at every scale.
      if (want("ingest_flatten") || want("qan_profile")) {
        val events = 200000 * k
        val files = 32 * k
        val dir = Bench.ingestLog(events, files)
        val flat = () => graft.slowlog.SlowLogTable.flatten(
          graft.slowlog.SlowLogSource.readRaw(spark, dir.toString))
        try {
          System.err.println(s"SCALE inputs ${k}x: $events slow-log events / $files files")
          if (want("ingest_flatten"))
            record("ingest_flatten", k, time(flat()))
          if (want("qan_profile")) {
            // report cost over the warehouse AT REST: wide rows land in
            // parquet once (excluded, like the index builds), the QAN
            // profile aggregate is what's timed
            val wideDir = s"/tmp/graft-scale-wide-$k"
            flat().write.mode("overwrite").parquet(wideDir)
            val wide = spark.read.parquet(wideDir)
            record("qan_profile", k, time(
              graft.operators.Qan.profile(wide, topN = 100)))
            org.apache.hadoop.fs.FileSystem.getLocal(
                spark.sparkContext.hadoopConfiguration)
              .delete(new org.apache.hadoop.fs.Path(wideDir), true)
          }
        } finally {
          val entries = java.nio.file.Files.list(dir)
          try entries.forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally entries.close()
          java.nio.file.Files.deleteIfExists(dir)
        }
      }

      // the clustering-algorithm differentiator is DIAMETER, not volume:
      // cluster_only measured propagation and star both FLAT (~1.2-1.7 s,
      // scheduling floor) on the real corpus, whose per-replica components
      // stay shallow at every scale. A path graph of diameter 2k makes the
      // round structure itself the workload — propagation needs O(d)
      // driver rounds, the star alternation O(log d). Edge frames are
      // tiny by design: what's timed is the driver-round mechanism, the
      // thing that dominates clustering cost once data fits the executors.
      if (want("q67_deep") || want("q84_deep")) {
        val d = 2 * k
        val path = spark.range(d.toLong)
          .select(col("id").as("da"), (col("id") + 1).as("db")).persist()
        path.count()
        System.err.println(s"SCALE inputs ${k}x: path graph diameter $d")
        if (want("q67_deep")) record("q67_deep", k, time(
          Dedup.dedupClusters(path, "da", "db", maxIter = d + 5)))
        if (want("q84_deep")) record("q84_deep", k, time(
          Dedup.dedupClustersStar(path, "da", "db")))
        path.unpersist()
      }

      // q91 sketch: the whole claim is that the ONLY input-sized stage is
      // one map-side-combined partial aggregate — cost should track the
      // scan (≈ linear), never the day-sketch cardinality downstream
      if (want("q91_sketch")) {
        val ev = scaleEvents(spark, sf, k).persist()
        val nEv = ev.count()
        System.err.println(s"SCALE inputs ${k}x: $nEv events")
        record("q91_sketch", k, time {
          val daily = graft.operators.Pipeline.hdrSketch(
            ev, "value", Seq("event_type", "day"))
          graft.operators.Pipeline.hdrQuantiles(
            graft.operators.Pipeline.hdrMerge(daily, Seq("event_type")),
            Seq("event_type"), Seq(50, 95, 99))
        })
        ev.unpersist()
      }

      // incremental rollup maintenance (q201's posture): standing
      // partial table built from k× events (day cardinality grows k×,
      // the q91 at-rest axis), then a FIXED 1×-sized batch appends +
      // the merged presentation reads — the recurring daily cost.
      // Expect the flat admission band: append ∝ batch, merged read ∝
      // keys × batches (calendar-sized), never ∝ events
      if (want("rollup_append")) {
        val tbl = "graft_bench_scale_rollup"
        Warehouse.dropWithLocation(spark, tbl)
        val cents = expr("cast(round(value*100) as long)")
        graft.streaming.StreamingRollup.appendBatch(
          scaleEvents(spark, sf, k), 0L, col("day"), col("event_type"),
          cents, tbl)
        val batch = scaleEvents(spark, sf, 1).persist()
        val nB = batch.count()
        System.err.println(s"SCALE inputs ${k}x: fixed rollup batch $nB events")
        var id = 0L
        record("rollup_append", k, timeUnit {
          id += 1
          graft.streaming.StreamingRollup.appendBatch(batch, id,
            col("day"), col("event_type"), cents, tbl)
          graft.streaming.StreamingRollup.readRollup(spark, tbl)
            .write.format("noop").mode("overwrite").save()
        })
        batch.unpersist()
        Warehouse.dropWithLocation(spark, tbl)
      }

      // the sketch twin (q210): standing HLL-partial table grown k×,
      // FIXED 1× batch's sketches appended + the estimate read — the
      // distinct-count maintenance cost; same flat expectation
      if (want("rollup_distinct")) {
        val tbl = "graft_bench_scale_rollup_sk"
        Warehouse.dropWithLocation(spark, tbl)
        val ent = expr("cast(value * 100 as long) % 100000")
        def parts(df: DataFrame) = graft.operators.Rollup
          .distinctPartials(df, col("day"), col("event_type"), ent)
        Warehouse.save(Layout.Rollup, tbl, parts(scaleEvents(spark, sf, k)))
        val batch = scaleEvents(spark, sf, 1).persist()
        batch.count()
        record("rollup_distinct", k, timeUnit {
          Warehouse.append(Layout.Rollup, tbl, parts(batch))
          graft.operators.Rollup.estimateDistinct(spark.table(tbl))
            .write.format("noop").mode("overwrite").save()
        })
        batch.unpersist()
        Warehouse.dropWithLocation(spark, tbl)
      }

      // q97 range join: the POINT side grows k×, the interval side is
      // FIXED (9 bands) — cost should track the point scan (≈ linear):
      // the bin explode is a constant 9 × ≤3 rows and the equi-join's
      // shuffle carries band_id partials only after the aggregate
      if (want("q97_range")) {
        val ev = scaleEvents(spark, sf, k).persist()
        val nEv = ev.count()
        System.err.println(s"SCALE inputs ${k}x: $nEv events (range join)")
        val bands = spark.range(0, 9).select(col("id").as("band_id"),
          (col("id") * 25.0).as("lo"), (col("id") * 25.0 + 30.0).as("hi"))
        record("q97_range", k, time(
          graft.operators.RangeJoin.rangeJoin(ev, bands, Seq.empty,
              "value", "lo", "hi", binWidth = 25.0)
            .groupBy("band_id")
            .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sv"))))
        ev.unpersist()
      }

      // interval-overlap join: BOTH sides are intervals grown k×; the
      // day key (cardinality grows k× in scaleEvents) keeps true pair
      // counts linear — keyless growth would square the OUTPUT and
      // benchmark the pathology, not the operator
      if (want("q105_overlap")) {
        val ev = scaleEvents(spark, sf, k).persist()
        val nEv = ev.count()
        System.err.println(s"SCALE inputs ${k}x: $nEv events (overlap join)")
        val views = ev.filter(col("event_type") === "view")
          .select(col("day"), col("value").as("v_lo"),
            (col("value") + 20.0).as("v_hi"))
        val errs = ev.filter(col("event_type") === "error")
          .select(col("day"), col("value").as("e_lo"),
            (col("value") + 15.0).as("e_hi"))
        record("q105_overlap", k, time(
          graft.operators.RangeJoin.overlapJoin(views, errs, Seq("day"),
              "v_lo", "v_hi", "e_lo", "e_hi", binWidth = 25.0)
            .groupBy("day")
            .agg(count(lit(1)).as("n_pairs"),
              round(avg("v_lo"), 4).as("sv"))))
        ev.unpersist()
      }

      // behavioral ops over a k× USER population (per-user history
      // fixed): funnel is three same-key aggregation passes (state = one
      // timestamp/stage), retention two aggregates + a user-key join,
      // paths one window + a depth-bounded collect — all should track
      // the scan (≈ linear), with no per-entity state growth
      if (want("q113_funnel") || want("q114_retention") || want("q116_paths") ||
          want("q115_intervals") || want("q121_transitions") ||
          want("q149_rfm") || want("q153_cooccur")) {
        val ev = scaleUserEvents(spark, sf, k).persist()
        val nEv = ev.count()
        System.err.println(s"SCALE inputs ${k}x: $nEv user events")
        if (want("q113_funnel")) record("q113_funnel", k, time(
          graft.operators.Behavior.funnel(ev, "user_id", col("us"),
            col("event_type"), Seq("view", "click", "purchase"))))
        if (want("q114_retention")) record("q114_retention", k, time(
          graft.operators.Behavior.retention(ev, "user_id",
            expr("us div 86400000000"))))
        if (want("q116_paths")) record("q116_paths", k, time(
          graft.operators.Behavior.topPaths(ev, "user_id", col("us"),
            col("event_id"), col("event_type"), depth = 5, topK = 20)))
        // the pre-r12 window formulation, kept inline for the
        // decomposition narrative: rank-sorts the FULL event stream
        // inside the entity exchange to keep 5 rows per entity — the
        // stage the PathPrefix rewrite deletes
        if (want("q116_win")) record("q116_win", k, time {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("us", "event_id")
          ev.select(col("user_id"), col("us"), col("event_id"),
              col("event_type").as("_ty"))
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") <= 5)
            .groupBy("user_id")
            .agg(concat_ws(">", transform(
              array_sort(collect_list(struct(col("_rn"), col("_ty")))),
              s => s.getField("_ty"))).as("path"))
            .groupBy("path").agg(count(lit(1)).as("n_entities"))
            .orderBy(col("n_entities").desc, col("path")).limit(20)
        })
        // gaps-and-islands: stacked lag/run-sum windows on one shuffle,
        // output ∝ runs — should track the scan like the others
        if (want("q115_intervals")) record("q115_intervals", k, time(
          graft.operators.Behavior.changeIntervals(ev, "user_id",
            col("us"), col("event_id"), col("event_type"))))
        // one lead window + a |types|²-keyed count — the cheapest
        // possible behavioral shape; confirms no hidden state growth
        if (want("q121_transitions")) record("q121_transitions", k, time(
          graft.operators.Behavior.transitionMatrix(ev, "user_id",
            col("us"), col("event_id"), col("event_type"))))
        // RFM grid after the round-11 rewrite: one entity aggregate +
        // three globalRank passes (range exchange + zipWithIndex) +
        // three id-keyed tile joins — the old unpartitioned ntile
        // windows would have put the whole k×-user frame on ONE reducer
        if (want("q149_rfm")) record("q149_rfm", k, time(
          graft.operators.Behavior.rfmSegments(ev, "user_id",
            col("us"), col("value"))))
        // sessionization (two stacked windows on one user-key shuffle)
        // composed into the q126 association machinery: transactions
        // grow k×, the item vocabulary stays |types| — pair space fixed,
        // so cost should track the session windows ≈ linearly
        if (want("q153_cooccur")) record("q153_cooccur", k, {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("us", "event_id")
          time(graft.operators.Behavior.associationPairs(
            ev.withColumn("_new",
                when(lag(col("us"), 1).over(w).isNull ||
                  col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L)
                  .otherwise(0L))
              .withColumn("_sid", sum("_new").over(
                w.rowsBetween(org.apache.spark.sql.expressions.Window
                  .unboundedPreceding, 0)))
              .select(concat_ws("#", col("user_id"), col("_sid")).as("tx"),
                col("event_type").as("item")),
            "tx", "item", minSupport = 2L, topK = 20))
        })
        ev.unpersist()
      }

      // the relational star at k× the FACT side (orderkeys offset per
      // replica; dimension keys unchanged, so dims stay broadcast-sized
      // — exactly how a 100 TB fact table meets its fixed dimensions):
      // one fact scan, broadcast joins, one nation-keyed aggregate —
      // cost must track the fact scan
      if (want("q161_star")) {
        val li = spark.read.parquet(s"$sf/lineitem.parquet")
        val or = spark.read.parquet(s"$sf/orders.parquet")
        def grow(df: DataFrame, keyCol: String): DataFrame =
          if (k == 1) df
          else df.crossJoin(spark.range(k).toDF("rep"))
            .withColumn(keyCol, col(keyCol) + col("rep") * 1000000000L)
            .drop("rep")
        val liK = grow(li, "l_orderkey").persist()
        val orK = grow(or, "o_orderkey").persist()
        val n = liK.count(); orK.count()
        System.err.println(s"SCALE inputs ${k}x: $n lineitems (star)")
        record("q161_star", k, time(
          liK.join(orK, col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(spark.read.parquet(s"$sf/customer.parquet")),
              col("o_custkey") === col("c_custkey"))
            .join(broadcast(spark.read.parquet(s"$sf/supplier.parquet")),
              col("l_suppkey") === col("s_suppkey") &&
                col("c_nationkey") === col("s_nationkey"))
            .join(broadcast(spark.read.parquet(s"$sf/nation.parquet")),
              col("c_nationkey") === col("n_nationkey"))
            .groupBy(col("n_name"))
            .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
              .as("revenue"), count(lit(1)).as("n_items"))))
        liK.unpersist(); orK.unpersist()
      }

      // equi-depth histogram at k× the fact: one distributed rank
      // (range-exchange + zipWithIndex) over a k×-grown value column —
      // cost must track the rank's exchange, no single-reducer stage
      if (want("q193_equidepth")) {
        val li = spark.read.parquet(s"$sf/lineitem.parquet")
          .select("l_extendedprice")
        val liK = (if (k == 1) li
          else li.crossJoin(spark.range(k).toDF("rep"))
            .withColumn("l_extendedprice",
              col("l_extendedprice") + col("rep") * 0.000001)
            .drop("rep")).persist()
        val n = liK.count()
        System.err.println(s"SCALE inputs ${k}x: $n rows (equidepth)")
        record("q193_equidepth", k, time(
          graft.operators.Pipeline.equiDepthHistogram(liK,
            col("l_extendedprice"), 8)))
        liK.unpersist()
      }

      // the q172 sole-late-supplier shape at k× the fact (orders grow
      // with it — the same per-replica orderkey offset keeps the
      // order↔lineitem mapping intact, so per-order supplier sets and
      // lateness are original-sized at every k): three aggregates of
      // one fact scan + two key-equi-joins — cost should track the
      // fact scan, never the pair space
      if (want("q172_late")) {
        val li = spark.read.parquet(s"$sf/lineitem.parquet")
        val or = spark.read.parquet(s"$sf/orders.parquet")
        def grow(df: DataFrame, keyCol: String): DataFrame =
          if (k == 1) df
          else df.crossJoin(spark.range(k).toDF("rep"))
            .withColumn(keyCol, col(keyCol) + col("rep") * 1000000000L)
            .drop("rep")
        val liK = grow(li, "l_orderkey").persist()
        val orK = grow(or, "o_orderkey").persist()
        val n = liK.count(); orK.count()
        System.err.println(s"SCALE inputs ${k}x: $n lineitems (late)")
        record("q172_late", k, time {
          val liS = liK.select("l_orderkey", "l_suppkey", "l_shipdate")
          val late = liS
            .join(orK.select("o_orderkey", "o_orderdate"),
              col("l_orderkey") === col("o_orderkey"))
            .filter(col("l_shipdate") > col("o_orderdate"))
            .select("l_orderkey", "l_suppkey").distinct()
          val multi = liS.groupBy("l_orderkey")
            .agg(countDistinct("l_suppkey").as("_ns")).filter(col("_ns") >= 2)
            .select("l_orderkey")
          val solo = late.groupBy("l_orderkey")
            .agg(count(lit(1)).as("_nl")).filter(col("_nl") === 1)
            .select("l_orderkey")
          late.join(multi, "l_orderkey").join(solo, "l_orderkey")
            .groupBy("l_suppkey")
            .agg(count(lit(1)).as("n_waits"))
            .orderBy(col("n_waits").desc, col("l_suppkey"))
            .limit(20)
        })
        liK.unpersist(); orK.unpersist()
      }

      // the q173 min-cost-supplier shape at k× the fact (orderkeys
      // offset; part/supplier keys unchanged, so the pair-aggregate
      // output stays |parts|×|suppliers|-bounded at every k): the
      // per-pair groupBy must combine map-side — cost tracks the scan,
      // and the winner window runs over the CONSTANT-size offer frame
      if (want("q173_mincost")) {
        val li = spark.read.parquet(s"$sf/lineitem.parquet")
        def grow(df: DataFrame): DataFrame =
          if (k == 1) df
          else df.crossJoin(spark.range(k).toDF("rep"))
            .withColumn("l_orderkey", col("l_orderkey") + col("rep") * 1000000000L)
            .drop("rep")
        val liK = grow(li).persist()
        val n = liK.count()
        System.err.println(s"SCALE inputs ${k}x: $n lineitems (mincost)")
        record("q173_mincost", k, time {
          val eu = broadcast(spark.read.parquet(s"$sf/supplier.parquet")
            .join(spark.read.parquet(s"$sf/nation.parquet"),
              col("s_nationkey") === col("n_nationkey"))
            .join(spark.read.parquet(s"$sf/region.parquet")
              .filter(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select("s_suppkey", "s_name"))
          val offer = liK
            .join(broadcast(spark.read.parquet(s"$sf/part.parquet")
              .filter(col("p_size") <= 10 && col("p_type") === "STANDARD")),
              col("l_partkey") === col("p_partkey"))
            .groupBy(col("p_partkey"), col("p_name"), col("l_suppkey"))
            .agg(min(round(col("l_extendedprice") / col("l_quantity"), 4))
              .as("unit_price"))
            .join(eu, col("l_suppkey") === col("s_suppkey"))
          offer.withColumn("_best", min("unit_price")
              .over(org.apache.spark.sql.expressions.Window
                .partitionBy("p_partkey")))
            .filter(col("unit_price") === col("_best"))
            .select("p_partkey", "p_name", "s_suppkey", "s_name", "unit_price")
            .orderBy(col("unit_price"), col("p_partkey"), col("s_suppkey"))
            .limit(25)
        })
        liK.unpersist()
      }

      // the q179 order-count-distribution shape at k× ORDERS (custkeys
      // unchanged — per-customer counts grow k×, the histogram key
      // space stays tiny): a fact-dim left join + two stacked
      // aggregates; the first collapses to |customers| rows, the second
      // to |distinct counts| — cost must track the orders scan
      if (want("q179_dist")) {
        val or = spark.read.parquet(s"$sf/orders.parquet")
        val orK = (if (k == 1) or
          else or.crossJoin(spark.range(k).toDF("rep"))
            .withColumn("o_orderkey", col("o_orderkey") + col("rep") * 1000000000L)
            .drop("rep")).persist()
        val n = orK.count()
        System.err.println(s"SCALE inputs ${k}x: $n orders (dist)")
        record("q179_dist", k, time(
          spark.read.parquet(s"$sf/customer.parquet").select("c_custkey")
            .join(orK.filter(col("o_orderstatus") =!= "P")
              .select("o_custkey", "o_orderkey"),
              col("c_custkey") === col("o_custkey"), "left")
            .groupBy("c_custkey")
            .agg(count(col("o_orderkey")).as("c_count"))
            .groupBy("c_count")
            .agg(count(lit(1)).as("custdist"))
            .orderBy(col("custdist").desc, col("c_count").desc)))
        orK.unpersist()
      }

      // PageRank over a k× random graph (constant average degree 10,
      // hash-derived edges — node AND edge count grow k×): each of the
      // 3 iterations is one edge⋈rank join + one dst-keyed aggregate,
      // so cost should track the edge scan (≈ linear per iteration)
      // with no driver-side convergence probe to grow with k
      if (want("q118_pagerank")) {
        val nEdges = 100000L * k
        val nNodes = math.max(1L, nEdges / 10)
        val edges = spark.range(nEdges).select(
          pmod(xxhash64(col("id")), lit(nNodes)).as("src"),
          pmod(xxhash64(col("id") + 1000000007L), lit(nNodes)).as("dst"))
          .persist()
        val nE = edges.count()
        System.err.println(s"SCALE inputs ${k}x: $nE edges (pagerank)")
        record("q118_pagerank", k, time(
          graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 3)))
        edges.unpersist()
      }

      // ExactSubstr span detection over the k× corpus (scaleDocs
      // suffixes replica words, so each replica carries the base
      // corpus's duplicate structure and span count grows k×): anchor
      // explode is map-only, the dup flag one gram-keyed window, the
      // islands one per-doc window — cost must track total words
      if (want("exact_substr")) {
        val docs = scaleDocs(spark, sf, k).persist()
        System.err.println(s"SCALE inputs ${k}x: ${docs.count()} docs (exact_substr)")
        record("exact_substr", k, time(
          Dedup.exactSubstrSpans(docs, "doc_id", "text", 4)))
        docs.unpersist()
      }

      // DBSCAN through the LSH-blocked pair path on a planted-blob
      // corpus: k× the BLOB COUNT at fixed blob size 5 (members are
      // scaled copies — cosine exactly 1; blob directions are
      // group-keyed sign flips of the base embeddings, pairwise ≈
      // orthogonal), so the ε-pair volume grows k× and sign-LSH recall
      // on θ≈0 pairs is 1 by construction. Cost must track blob count.
      if (want("dbscan")) {
        val base = spark.read.parquet(s"$sf/embeddings.parquet")
          .select("vec_id", "embedding")
        val corpus = base
          .crossJoin(spark.range(k).toDF("grp"))
          .crossJoin(spark.range(5).toDF("rep"))
          .select(
            (col("vec_id") * 1000L + col("grp") * 5L + col("rep")).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              x * when(pmod(xxhash64(col("grp"), i), lit(2)) === 0, lit(1.0f))
                .otherwise(lit(-1.0f)) *
                (lit(1.0f) + col("rep").cast("float") * lit(0.001f)))
              .as("embedding"))
          .repartition(32).persist()
        val nVec = corpus.count()
        // band width from the sizing policy: fixed bits=8 measured
        // exponent 1.47 here (bucket saturation → Σ occupancy² ≈
        // n²/2^bits); lshBitsFor holds occupancy ≈ constant. Blob
        // members sit at cosine exactly 1 (scaled copies), so recall
        // stays 1.0 at any bits — the policy's documented coupling
        // only binds for thresholds materially below 1.
        val bits = graft.operators.Similarity.lshBitsFor(nVec)
        System.err.println(s"SCALE inputs ${k}x: $nVec vectors (dbscan, ${k} groups x 5, bits=$bits)")
        record("dbscan", k, time {
          val pairs = Dedup.embeddingNearDupPairs(corpus, "vec_id",
            "embedding", threshold = 0.9, bits = bits)
          Dedup.dbscanLabels(corpus, "vec_id", pairs, "da", "db", minPts = 2)
        })
        corpus.unpersist()
      }

      // q209's 100 TB posture: two-hop reach with the hot-middle cap +
      // HLL distinct, on a PLANTED hub graph — one middle with
      // (1000k)² wedge fan-out atop a 20000k-edge chain background.
      // Uncapped, the wedge join generates Σ din·dout ≈ 10⁶k²
      // candidates (measured beside the cap at k ≤ 10 to show the
      // quadratic the cap exists to prevent — k=100 would be 10¹⁰
      // rows); capped, every surviving middle has fan-out 1, so cost
      // must track the edge scan ≈ linearly
      if (want("two_hop_cap") || want("two_hop_uncapped")) {
        val h = 1000L * k
        val m = 20000L * k
        val base = 2 * h + 1
        val edges = spark.range(1L, h + 1)
          .select(col("id").as("a"), lit(0L).as("b"))
          .union(spark.range(h + 1, 2 * h + 1)
            .select(lit(0L).as("a"), col("id").as("b")))
          .union(spark.range(m).select((col("id") + base).as("a"),
            (col("id") + base + 1).as("b")))
          .repartition(32).persist()
        val nE = edges.count()
        System.err.println(s"SCALE inputs ${k}x: $nE edges (hub fan-out $h×$h)")
        if (want("two_hop_cap")) record("two_hop_cap", k, time(
          graft.operators.Graph.twoHopReach(edges, "a", "b", 100,
            maxMiddleWedges = Some(1000L), approxDistinct = true)))
        if (want("two_hop_uncapped") && k <= 10)
          record("two_hop_uncapped", k, time(
            graft.operators.Graph.twoHopReach(edges, "a", "b", 100)))
        edges.unpersist()
      }

      // basket ops over k× transactions with a k×-REGIONED catalog
      // (baskets draw items from their replica's region, so pair
      // support distribution and node degrees stay 1×-like while
      // transactions, edges, and triangles grow k× — keyless catalog
      // growth would dilute support to nothing, a shared catalog would
      // densify degrees quadratically; both benchmark a pathology)
      if (want("q126_basket") || want("q128_tri")) {
        val nTx = 20000L * k
        val it = spark.range(nTx).select(col("id").as("tx"))
          .select(col("tx"), explode(sequence(lit(0), lit(5))).as("_j"))
          .select(col("tx"),
            (pmod(col("tx"), lit(k.toLong)) * 2000L +
              pmod(xxhash64(col("tx"), col("_j")), lit(2000L))).as("itm"))
          .persist()
        val nIt = it.count()
        System.err.println(s"SCALE inputs ${k}x: $nIt basket items")
        if (want("q126_basket")) record("q126_basket", k, time(
          graft.operators.Behavior.associationPairs(it, "tx", "itm", 2L, 20)))
        if (want("q128_tri")) record("q128_tri", k, time {
          val e = it.select(col("tx"), col("itm").as("u"))
            .join(it.select(col("tx"), col("itm").as("v")), Seq("tx"))
            .filter(col("u") < col("v"))
            .groupBy("u", "v").agg(count(lit(1)).as("_cp"))
            .filter(col("_cp") >= 2).select("u", "v")
          graft.operators.Graph.triangleCount(e, "u", "v")
        })
        it.unpersist()
      }

      // BM25 over a k× corpus: replica tokens are suffixed, so the
      // query-term posting set stays FIXED while the corpus grows —
      // isolating the claim that the only corpus-sized stage is the
      // doc-length aggregate (the tf shuffle carries matches only)
      if (want("q111_bm25")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (bm25)")
        record("q111_bm25", k, time(
          graft.operators.Search.bm25TopK(docs, "doc_id", "text",
            Seq("hash", "merge", "vector"), k = 10)))
        docs.unpersist()
      }

      // BPE merge learning at k× the corpus: token salting grows the
      // VOCABULARY k× too (each replica's words are distinct), so this
      // stresses both the corpus-sized word-count aggregate and the
      // vocabulary-sized iterations — 4 merges, cost should track the
      // one aggregate plus ~constant per-iteration overhead
      if (want("q185_bpe")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (bpe)")
        record("q185_bpe", k, time(
          graft.operators.Bpe.mergeTable(docs, "text", 4)))
        docs.unpersist()
      }

      // Repetition stats at k× the corpus: strictly per-document
      // (one codegen pass, no shuffle) — the exponent should be ~1
      // with a scan-rate constant; any super-linearity here would
      // mean the expression kernel leaks cross-row state
      if (want("q222_repstats")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (repstats)")
        record("q222_repstats", k, time(
          graft.operators.TextAnalysis.repetitionStats(docs, "doc_id", "text")))
        docs.unpersist()
      }

      // DSIR weights at k× the corpus: the salted vocabulary grows k×
      // (the q185 axis), stressing the vocab aggregate + model join
      // while the per-doc aggregate stays entity-sized
      // The cap path under PLANTED power-law skew: 90% of k× docs
      // forced into ONE mega-domain. The question the operator scaladoc
      // raises — does the per-domain rank window melt on a hot key? —
      // is answered by Spark's WindowGroupLimit rewrite: each input
      // partition pre-caps to k rows per domain BEFORE the shuffle, so
      // the exchanged rows stay ~domains × partitions × cap regardless
      // of the hot key's share.
      if (want("domain_cap_skew")) {
        val docs = scaleDocs(spark, sf, k).repartition(32).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (cap skew)")
        val parts = graft.operators.Url.urlParts(
          docs.withColumn("url",
            when(pmod(col("doc_id"), lit(10)) < 9,
              concat(lit("https://mega.com/p/"),
                pmod(col("doc_id"), lit(100)).cast("string")))
              .otherwise(graft.operators.Url.syntheticUrl(
                col("doc_id"), col("lang")))),
          col("url"))
        record("domain_cap_skew", k, time(
          graft.operators.Url.perDomainCap(parts, "doc_id", 15)))
        docs.unpersist()
      }

      // Segment-level winnowing selection at k× the corpus (the q262
      // path): same gram explode as winnow_sel but the window keys on
      // (doc, segment) — finer keys, same shuffle count; expect the
      // whole-doc op's ~linear shape.
      if (want("winnow_seg")) {
        val docs = scaleDocs(spark, sf, k).repartition(32).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (winnow_seg)")
        record("winnow_seg", k, time(
          graft.operators.Dedup.winnowingSegmentFingerprints(
            docs, "doc_id", "text", segWords = 16, k = 3, w = 4)))
        docs.unpersist()
      }

      // URL parse + per-domain cap at k× the corpus (the q260 path):
      // the parse is map-only, the cap one rank window on the ~45
      // synthetic registered domains — per-domain rows grow k×, so
      // this measures the skewed-window cost the scaladoc's salting
      // note is about. Expect ~linear.
      if (want("domain_cap")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (domain_cap)")
        record("domain_cap", k, time(
          graft.operators.Url.perDomainCap(
            graft.operators.Url.urlParts(
              docs.withColumn("url", graft.operators.Url.syntheticUrl(
                col("doc_id"), col("lang"))),
              col("url")),
            "doc_id", 15)))
        docs.unpersist()
      }

      // PII scan+redact (q275/q276's scale shape): plant synthetic PII
      // at k×, then count five regex classes AND produce the redacted
      // text in one map-only pass — per-row cost is O(|text|) regex
      // scans, so the expected exponent is ~1.0 (pure data-linear).
      if (want("pii_scan")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (pii_scan)")
        record("pii_scan", k, time(
          docs.select(col("doc_id"),
              graft.operators.Pii.syntheticPiiText(
                col("doc_id"), col("text")).as("dirty"))
            .select(col("doc_id"),
              graft.operators.Pii.piiCounts(col("dirty")).as("c"),
              graft.operators.Pii.redactPii(col("dirty")).as("redacted"))))
        docs.unpersist()
      }

      // Span corruption (q279's scale shape): map-only, HOF lambdas
      // over per-row token arrays — expected ~linear (per-row cost is
      // a constant multiple of tokenization).
      if (want("span_corrupt")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (span_corrupt)")
        record("span_corrupt", k, time(
          graft.operators.Pipeline.spanCorrupt(docs, "doc_id", "text")))
        docs.unpersist()
      }

      if (want("q223_dsir")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (dsir)")
        record("q223_dsir", k, time(
          graft.operators.Pipeline.dsirWeights(docs, "doc_id", "text",
            col("lang") === "en")))
        docs.unpersist()
      }

      // Filtered IVF probe at k× corpus (q232's scale evidence): index
      // built at k× (excluded), 5 fixed probes; the even-label filter
      // pre-filters the probed cells' rows — timed cost is the pruned
      // bucket reads + filter join + exact re-rank, which must track
      // the per-cell row count (≈ linear with a bucket-pruned constant)
      if (want("filtered_probe")) {
        val tbl = "graft_bench_scale_fivf"
        Warehouse.drop(spark, Layout.Ivf, tbl)
        val emb = scaleEmb(spark, sf, k).repartition(32).persist()
        val nE = emb.count()
        System.err.println(s"SCALE inputs ${k}x: $nE embeddings (fivf)")
        val (cells, centroids) = graft.operators.Similarity.ivfIndex(
          emb, "vec_id", "embedding", nlist = 16)
        Warehouse.save(Layout.Ivf, tbl, cells, centroids)
        val evens = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
          .select(col("vec_id").as("id"))
        record("filtered_probe", k, time(
          graft.operators.Similarity.ivfCosineTopKFrom(
            spark.table(tbl).join(evens, "id"),
            spark.table(Warehouse.sideTable(tbl, Side.Centroids)),
            emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 3, nprobe = 12)))
        emb.unpersist()
        Warehouse.drop(spark, Layout.Ivf, tbl)
      }

      // MaxSim late-interaction scan at k× corpus: 3 fixed probes, all
      // 16 sub-cosines in one projection per pair row — cost must
      // track the corpus scan ≈ linearly (the exact baseline; a scale
      // deployment blocks each subspace through the ANN families)
      if (want("maxsim")) {
        val emb = scaleEmb(spark, sf, k).persist()
        val nE = emb.count()
        System.err.println(s"SCALE inputs ${k}x: $nE embeddings (maxsim)")
        record("maxsim", k, time(
          graft.operators.Similarity.maxSimTopK(emb,
            emb.filter(col("vec_id") < 3), "vec_id", "embedding",
            subspaces = 4, subDim = 16, k = 3)))
        emb.unpersist()
      }

      // Nearest-centroid serving path at k× vectors: centroids FIXED
      // (fit on the 1× training half, excluded from timing), so the
      // classification is one shuffle-free unrolled projection — cost
      // must track the scan ≈ linearly with a small constant
      if (want("centroid_classify")) {
        val emb1 = spark.read.parquet(s"$sf/embeddings.parquet")
        val cents = graft.operators.Similarity.medianCentroids(
            emb1.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
            "label")
          .persist()
        cents.count()
        val test = scaleEmb(spark, sf, k)
          .withColumn("label", pmod(col("vec_id"), lit(10L)).cast("int"))
          .persist()
        val nT = test.count()
        System.err.println(s"SCALE inputs ${k}x: $nT test vectors (classify)")
        record("centroid_classify", k, time(
          graft.operators.Similarity.classifyNearestCentroid(
            test, cents, "vec_id", "embedding", "label")))
        test.unpersist(); cents.unpersist()
      }

      // Distributed k-medians at k× vectors: 2 Lloyd rounds, each one
      // linear assign scan + one (cluster, dim) exchange on N·d rows —
      // cost must track the corpus ≈ linearly (iteration count is the
      // multiplier, not a scale axis; the per-round centroid collect
      // is k-rows-bounded)
      if (want("kmedians")) {
        val emb = scaleEmb(spark, sf, k).persist()
        val nE = emb.count()
        System.err.println(s"SCALE inputs ${k}x: $nE embeddings (kmedians)")
        record("kmedians", k, time(
          graft.operators.Similarity.kMedians(emb, "vec_id", "embedding",
            k = 4, iters = 2)))
        emb.unpersist()
      }

      // k-medians stage decomposition (the q193 delete-stages method,
      // for the 1.29 third-decade exponent): the final ASSIGN alone on
      // prebuilt centroids, and ONE median UPDATE alone on a prebuilt
      // assignment — whichever stage carries the superlinear term is
      // the one to attribute or fix
      if (want("kmed_stages")) {
        val emb = scaleEmb(spark, sf, k).persist()
        val nE = emb.count()
        System.err.println(s"SCALE inputs ${k}x: $nE embeddings (kmed_stages)")
        val cents = graft.operators.Similarity.kMediansCentroids(
          spark.read.parquet(s"$sf/embeddings.parquet"),
          "vec_id", "embedding", 4, 2).persist()
        cents.count()
        record("kmed_assign", k, time(
          graft.operators.Similarity.classifyNearestCentroid(
            emb, cents, "vec_id", "embedding", "vec_id")))
        val assigned = graft.operators.Similarity
          .classifyNearestCentroid(emb, cents, "vec_id", "embedding",
            "vec_id")
          .select(col("vec_id"), col("assigned").as("cluster"))
          .join(emb, "vec_id")
          .select(col("vec_id").as("_kid"), col("embedding").as("_kv"),
            col("cluster"))
          .persist()
        assigned.count()
        record("kmed_update", k, time(
          graft.operators.Similarity.medianCentroids(assigned,
            "_kid", "_kv", "cluster")))
        assigned.unpersist(); cents.unpersist(); emb.unpersist()
      }

      // NB fit alone (the q193 method for nb_classify's third-decade
      // 1.56): the two token-keyed training aggregates without the
      // scoring join
      if (want("nb_fit")) {
        val docs = scaleDocs(spark, sf, k).repartition(32).persist()
        val nD = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nD docs (nb_fit)")
        record("nb_fit", k, timeUnit {
          val (c, l) = graft.operators.TextAnalysis.naiveBayesFit(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", "lang")
          c.write.format("noop").mode("overwrite").save()
          l.write.format("noop").mode("overwrite").save()
        })
        docs.unpersist()
      }

      // Matryoshka two-stage retrieval at k× corpus, beside the exact
      // full-dim scan on the SAME frame: stage 1 touches only the
      // 16-of-64 prefix, stage 2 re-ranks 20 candidates/probe — both
      // must stay ≈ linear; the prefix pass's lower constant is the
      // point of the measurement
      if (want("matryoshka")) {
        val emb = scaleEmb(spark, sf, k).persist()
        val nE = emb.count()
        System.err.println(s"SCALE inputs ${k}x: $nE embeddings (matryoshka)")
        val probes = emb.filter(col("vec_id") < 5)
        record("matryoshka", k, time(
          graft.operators.Similarity.matryoshkaTopK(emb, probes,
            "vec_id", "embedding", prefixDim = 16, m = 20, k = 3)))
        record("matryoshka_exact", k, time(
          graft.operators.Similarity.knnBatch(emb, probes,
            "vec_id", "embedding", k = 3)))
        emb.unpersist()
      }

      // Matryoshka on the STORED prefix-column layout vs slice-on-read
      // from the SAME parquet table: stage 1 of the pruned path reads
      // only (vec_id, pre) — ¼ of the vector bytes — where the sliced
      // path must deserialize the full 64-dim column to slice it. The
      // A/B isolates the layout lever SCALE.md §20 names; the table
      // build is excluded from timing.
      if (want("matryoshka_stored")) {
        val tbl = "graft_bench_scale_mrl"
        Warehouse.dropWithLocation(spark, tbl)
        Warehouse.save(Layout.Plain, tbl,
          Similarity.withPrefix(scaleEmb(spark, sf, k).repartition(32),
            "vec_id", "embedding", 16))
        val stored = spark.table(tbl)
        val nS = stored.count()
        System.err.println(s"SCALE inputs ${k}x: $nS stored vectors (mrl)")
        val probes = spark.read.parquet(s"$sf/embeddings.parquet")
          .filter(col("vec_id") < 5)
        record("matryoshka_stored", k, time(
          graft.operators.Similarity.matryoshkaTopKStored(stored, probes,
            "vec_id", "embedding", "pre", prefixDim = 16, m = 20, k = 3)))
        record("matryoshka_sliced_disk", k, time(
          graft.operators.Similarity.matryoshkaTopK(stored, probes,
            "vec_id", "embedding", prefixDim = 16, m = 20, k = 3)))
        Warehouse.dropWithLocation(spark, tbl)
      }

      // Naive Bayes train+score at k× documents: replica-salted tokens
      // grow the vocabulary k×, so the count aggregate, the pivoted
      // likelihood table, and the postings join all grow linearly; the
      // label set stays fixed (5 langs) — cost must track the corpus
      if (want("nb_classify")) {
        val docs = scaleDocs(spark, sf, k).repartition(32).persist()
        val nD = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nD docs (nb_classify)")
        record("nb_classify", k, time(
          graft.operators.TextAnalysis.naiveBayesClassify(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1),
            "doc_id", "text", "lang")))
        docs.unpersist()
      }

      // NB SERVING path: model FIXED (fit + stored once on the 1×
      // train half, excluded from timing), test docs k× — scoring is
      // one token-bucketed postings join + one doc-keyed aggregate,
      // so cost must track the test corpus; the model-side merge
      // stays constant
      if (want("nb_probe")) {
        val tbl = "graft_bench_scale_nbmodel"
        Warehouse.drop(spark, Layout.NaiveBayes, tbl)
        val docs1 = spark.read.parquet(s"$sf/documents.parquet")
        val (c1, l1) = graft.operators.TextAnalysis.naiveBayesFit(
          docs1.filter(col("doc_id") % 2 === 0), "doc_id", "text", "lang")
        Warehouse.save(Layout.NaiveBayes, tbl, c1, l1)
        // replicate WITHOUT token salting: scaleDocs' salted replicas
        // would be ~all-OOV against the fixed 1× vocabulary and the
        // post-join work would shrink artificially; identical-text
        // replicas keep the postings join honest at k×
        val base1 = docs1.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text", "lang")
        val test = (if (k == 1) base1
          else base1.crossJoin(spark.range(k).toDF("rep"))
            .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
              col("text"), col("lang")))
          .repartition(32).persist()
        val nT = test.count()
        System.err.println(s"SCALE inputs ${k}x: $nT test docs (nb_probe)")
        record("nb_probe", k, time(
          graft.operators.TextAnalysis.naiveBayesScoreStored(
            spark, tbl, test, "doc_id", "text", "lang")))
        test.unpersist()
        Warehouse.drop(spark, Layout.NaiveBayes, tbl)
      }

      // Stored-trigram-index probe at k× the corpus (q225b's scale
      // evidence): replica tokens are suffixed, so the space-adjacent
      // pattern grams stay original-corpus-sized while word-interior
      // grams grow k× — the timed probe is bucket-pruned gram lookups
      // on the k×-grown table + the candidate-only contains verify
      if (want("trigram_probe")) {
        val tbl = "graft_bench_scale_trigram"
        Warehouse.dropWithLocation(spark, tbl)
        // repartition: the crossJoin-synthesized corpus inherits ONE
        // partition (the ivfpq-build lesson) and the 150M-row gram
        // explode would otherwise build the index on a single thread
        val docs = scaleDocs(spark, sf, k).repartition(32).persist()
        val nD = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nD docs (trigram)")
        Warehouse.save(Layout.Trigram, tbl,
          graft.operators.Search.trigramPostings(docs, "doc_id", "text"))
        record("trigram_probe", k, time(
          graft.operators.Search.substringSearch(spark.table(tbl), docs,
            "doc_id", "text", "scan slow")))
        docs.unpersist()
        Warehouse.dropWithLocation(spark, tbl)
      }

      // k-core peel at k× motifs (triangle + 3-node pendant chain per
      // motif): peel DEPTH is constant (three peel rounds + the
      // confirming pass) while motif count grows k× — per-round cost
      // must track the edge scan, so the exponent should be ≈1
      if (want("q226_kcore")) {
        val nMotifs = 20000L * k
        val motif = Seq((0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5))
        val und = motif.map { case (a, b) =>
          struct(lit(a).as("u"), lit(b).as("v")) } ++
          motif.map { case (a, b) => struct(lit(b).as("u"), lit(a).as("v")) }
        val edges = spark.range(nMotifs)
          .select(col("id"), explode(array(und: _*)).as("e"))
          .select((col("id") * 6 + col("e.u")).as("a"),
            (col("id") * 6 + col("e.v")).as("b"))
          .repartition(32).persist()
        val nE = edges.count()
        System.err.println(s"SCALE inputs ${k}x: $nE edges (kcore)")
        record("q226_kcore", k, time(
          graft.operators.Graph.kCore(edges, "a", "b", 2)))
        edges.unpersist()
      }

      // Lexical cosine pairs at k× the corpus: salted replicas share
      // no tokens, so true near-dup pairs grow k× (not k²) and the df
      // cap (the oracle's 400) bounds per-token fanout throughout
      if (want("q192_cosine")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (cosine)")
        record("q192_cosine", k, time(
          Dedup.lexicalCosinePairs(docs, "doc_id", "text",
            minSim = 0.8, maxDf = 400L)))
        docs.unpersist()
      }

      // Phrase + proximity search at k× the corpus: replica tokens are
      // suffixed, so the MATCHING posting set stays FIXED while the
      // corpus grows — the live paths measure the corpus-sized
      // posexplode + token filter (the joins carry fixed rows)
      if (want("q189_phrase") || want("q190_prox")) {
        val docs = scaleDocs(spark, sf, k).persist()
        val nDocs = docs.count()
        System.err.println(s"SCALE inputs ${k}x: $nDocs docs (phrase)")
        if (want("q189_phrase"))
          record("q189_phrase", k, time(
            graft.operators.Search.phraseDocs(docs, "doc_id", "text",
              "slow query")))
        if (want("q190_prox"))
          record("q190_prox", k, time(
            graft.operators.Search.proximityDocs(
              graft.operators.Search.positionalPostings(
                docs, "doc_id", "text"), "hash", "join", 3)))
        docs.unpersist()
      }
      // Stored-positional-index probe (q189b's scale evidence): index
      // prebuilt at k× (excluded), timed = two bucket-pruned word reads
      // + the adjacency join — each word scans 1/32 of a k×-grown table
      if (want("phrase_probe")) {
        val tbl = "graft_bench_scale_positional"
        Warehouse.dropWithLocation(spark, tbl)
        Warehouse.save(Layout.Inverted, tbl,
          graft.operators.Search.positionalPostings(
            scaleDocs(spark, sf, k), "doc_id", "text"))
        record("phrase_probe", k, time(
          graft.operators.Search.phraseDocsFrom(spark.table(tbl),
            "slow query")))
        Warehouse.dropWithLocation(spark, tbl)
      }

      val docOps = Seq("q123_prefix", "q26_jaccard", "q52_capped",
        "q52_shingles", "q40_minhash",
        "q67_clusters", "q67_cluster_only", "q84_star_only", "lpa_only", "q75_probe",
        "admit_batch", "q40_probe", "q40_cand", "minhash_admit", "lexical_admit",
        "trigram_admit", "winnow_admit", "domain_admit", "url_admit",
        "tiered_cap", "tiered_cap_skew", "cc_augment", "pii_scan",
        "span_corrupt",
        "q92_bloom", "q99_spans", "q102_edit", "q103_bigram", "q104_sn",
        "q107_entropy", "q107_exploded", "q160_vocab", "winnow_pairs", "winnow_sel", "winnow_probe")
      val embOps = Seq("q83_pq", "q41c_probe", "q41c_logbits",
        "ivf_append", "pq_append", "ivfpq_append", "ivfpq_probe",
        "jl_project", "semantic_admit", "ivfpq_nlist")
      if (!(docOps ++ embOps).exists(want)) {
        System.err.println(s"SCALE ${k}x: no corpus ops requested")
      } else {
      val docs = scaleDocs(spark, sf, k).persist()
      val emb = scaleEmb(spark, sf, k).persist()
      val nDocs = docs.count(); val nEmb = emb.count()
      System.err.println(s"SCALE inputs ${k}x: $nDocs docs, $nEmb embeddings")

      // blocked edit-distance pairs: token salting keeps first words
      // per-replica, so blocks (and their quadratic innards) stay
      // original-corpus-sized while block COUNT grows k× — the linear
      // regime the blocking exists to buy
      if (want("q102_edit")) record("q102_edit", k, time(
        Dedup.editDistancePairs(docs, "doc_id",
          substring(col("text"), 1, 32),
          Seq(col("lang"), split(col("text"), " ").getItem(0)),
          maxDist = 8, maxBlock = Some(100L))))

      // bigram LM scoring: per-replica vocab keeps the model k× rows
      // with original-corpus counts; instances grow k× — two hash
      // aggregates + two word-key joins, all input-sized
      if (want("q103_bigram")) record("q103_bigram", k, time(
        graft.operators.TextAnalysis.bigramLogLikelihood(
          docs, "doc_id", "text")))

      // sorted-neighborhood pairs: what's timed is globalRank's
      // range-exchange + zipWithIndex and the bucket neighbor join —
      // output is O(N·w) by construction at every scale
      if (want("q104_sn")) record("q104_sn", k, time(
        Dedup.sortedNeighborhoodPairs(docs, "doc_id",
          substring(col("text"), 1, 16), 3)))

      // winnowing match at k× docs: selection is one gram explode +
      // one doc-keyed window (linear); the pair join blocks on the
      // 2/(w+1)-sampled hashes with the df cap bounding hot grams, so
      // pair volume tracks true near-dup mass, not corpus²
      if (want("winnow_pairs")) record("winnow_pairs", k, time {
        // materialized: one selection pass, not four (q255)
        val sel = Dedup.winnowingFingerprints(docs, "doc_id", "text", 3, 4)
          .select(col("doc_id"), col("fp_hash")).distinct()
          .transform(Materialize(_))
        val rare = sel.groupBy("fp_hash").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= 200L).select("fp_hash")
        val kept = sel.join(rare, "fp_hash")
        kept.select(col("doc_id").as("da"), col("fp_hash"))
          .join(kept.select(col("doc_id").as("db"), col("fp_hash")),
            "fp_hash")
          .filter(col("da") < col("db"))
          .groupBy("da", "db").agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3L)
      })

      // decomposition: the selection half alone (gram explode + one
      // doc-keyed window + distinct) — attributes winnow_pairs'
      // superlinear residue to the window sort vs the pair join
      if (want("winnow_sel")) record("winnow_sel", k, time(
        Dedup.winnowingFingerprints(docs, "doc_id", "text", 3, 4)
          .select(col("doc_id"), col("fp_hash")).distinct()))

      // winnowing PROBE posture: index built from the k× corpus and
      // stored bucketed by fp_hash (excluded from timing), a FIXED
      // 1×-sized batch probed against it — the timed cost is the
      // batch-side selection + the hash join against the bucketed
      // table (stored side never shuffles; the scan of its buckets is
      // the honest corpus-proportional residue)
      if (want("winnow_probe")) {
        val tbl = "graft_bench_scale_winnow"
        Warehouse.dropWithLocation(spark, tbl)
        val sel = Dedup.winnowingFingerprints(docs, "doc_id", "text", 3, 4)
          .select(col("doc_id"), col("fp_hash")).distinct().transform(Materialize(_))
        val rare = sel.groupBy("fp_hash").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= 200L).select("fp_hash")
        Warehouse.save(Layout.Winnow, tbl, sel.join(rare, "fp_hash"))
        val probe = scaleDocs(spark, sf, 1)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        record("winnow_probe", k, time(
          Dedup.winnowMatchesAgainst(
            Dedup.winnowingFingerprints(probe, "doc_id", "text", 3, 4)
              .select(col("doc_id"), col("fp_hash")).distinct(),
            spark.table(tbl), "doc_id", minShared = 3L)))
        Warehouse.dropWithLocation(spark, tbl)
      }

      // dup-span audit after the round-10 rewrite: the span stream
      // crosses ONE exchange (to the (span, doc) level, map-side
      // combined) — cost should track the explode/scan ≈ linearly
      if (want("q99_spans")) record("q99_spans", k, time(
        graft.operators.Pipeline.dupSpanStats(docs, "doc_id", "text", 4)))

      // char entropy: the codegen'd one-pass expression vs the
      // explode → (doc, char) aggregate formulation it replaces — the
      // exploded path shuffles ~|text|× the scan, the expression ships
      // nothing (same answer, spec-proven)
      if (want("q107_entropy")) record("q107_entropy", k, time(
        graft.operators.TextAnalysis.charEntropy(docs, "doc_id", "text")))
      if (want("q107_exploded")) record("q107_exploded", k, time(
        graft.operators.TextAnalysis.charEntropyExploded(
          docs, "doc_id", "text")))

      // per-lang top-50 vocabulary overlap: the token aggregate is the
      // corpus-sized stage (map-side combined); the rank window runs
      // per-lang over the VOCABULARY (salted tokens grow it k× here —
      // the worst case for the window), and the overlap join touches
      // only 50·|langs| rows — cost must track the token aggregate
      if (want("q160_vocab")) record("q160_vocab", k, {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("_c").desc, col("token"))
        time {
          val top = docs
            .select(col("lang"), explode(split(col("text"), " ")).as("token"))
            .groupBy("lang", "token").agg(count(lit(1)).as("_c"))
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") <= 50)
            .select("lang", "token")
          top.select(col("lang").as("la"), col("token"))
            .join(top.select(col("lang").as("lb"), col("token")), Seq("token"))
            .filter(col("la") < col("lb"))
            .groupBy("la", "lb").agg(count(lit(1)).as("common"))
        }
      })

      if (want("q26_jaccard")) record("q26_jaccard", k, time(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)))
      if (want("q52_capped")) record("q52_capped", k, time(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6,
          maxShingleDf = Some(50L))))
      // q52 decomposition (§19): the capped shingle frame ALONE (gen +
      // df aggregate + broadcast anti-join) — the delta to q52_capped
      // is the shared-shingle pair join + ratio verification
      if (want("q52_shingles")) record("q52_shingles", k, time {
        val all = Dedup.shingles(docs, "doc_id", "text", 3)
        val hot = all.groupBy("shingle").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > 50L).select("shingle")
        all.join(broadcast(hot), Seq("shingle"), "left_anti")
      })
      // the LSH scale path for the same pair semantics as q26: candidates
      // from banded signatures, exact Jaccard only on candidates
      if (want("q40_minhash")) record("q40_minhash", k, time(
        Dedup.minHashDedupPairs(docs, "doc_id", "text")))
      // the prefix-filtering EXACT path for the same pair semantics:
      // candidates from rare-shingle prefix collisions only — compare
      // directly against q26 (all shared shingles) and q40 (LSH)
      if (want("q123_prefix")) record("q123_prefix", k, time(
        Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text", 3, 0.6)))
      // bloom contamination: probe set FIXED (the unscaled benchmark),
      // corpus grows k× — the bitset broadcast is constant, the corpus
      // shingle stream is killed map-side, so cost must stay ≈ the scan
      if (want("q92_bloom")) {
        val probes = spark.read.parquet(s"$sf/documents.parquet")
          .filter(col("doc_id") < 20).select("doc_id", "text").persist()
        probes.count()
        record("q92_bloom", k, time(
          graft.operators.Pipeline.contaminatedDocsBloom(
            docs, probes, "doc_id", "text", n = 5)))
        probes.unpersist()
      }
      if (want("q67_clusters")) record("q67_clusters", k, time {
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
        Dedup.dedupClusters(pairs, "da", "db")
      })
      // the clustering ALGORITHMS head-to-head: candidate pairs prebuilt
      // and persisted (excluded, like the index builds), so propagation
      // (O(diameter) rounds) vs large-star/small-star (O(log) alternations)
      // is measured directly rather than under the pair-generation cost
      // that dominates q67_clusters
      if (want("q67_cluster_only") || want("q84_star_only") ||
          want("lpa_only")) {
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
          .persist()
        val nPairs = pairs.count()
        System.err.println(s"SCALE inputs ${k}x: $nPairs candidate pairs")
        if (want("q67_cluster_only")) record("q67_cluster_only", k, time(
          Dedup.dedupClusters(pairs, "da", "db")))
        if (want("q84_star_only")) record("q84_star_only", k, time(
          Dedup.dedupClustersStar(pairs, "da", "db")))
        // LPA beside the two closure solvers on the same pairs: 3
        // fixed voting rounds, each one edge-labels join + one
        // (node, label) count - per-round cost is one propagation hop,
        // so the curve must track q67_cluster_only's
        if (want("lpa_only")) record("lpa_only", k, time(
          graft.operators.Graph.labelPropagation(pairs, "da", "db", 3)))
        pairs.unpersist()
      }
      if (want("q75_probe")) {
        // q75 probe path: band index prebuilt (excluded), pair join timed
        val bands = Dedup.simHashBandFrame(docs, "doc_id",
          split(col("text"), " ")).persist()
        bands.count()
        record("q75_probe", k, time(
          Dedup.simHashNearDupPairsFrom(bands, "doc_id", maxHamming = 16)))
        bands.unpersist()
      }
      // streaming admission at scale: the STANDING SimHash index grows k×
      // (build excluded, like every index above) while the admitted batch
      // stays FIXED — a 1×-sized batch of fresh-vocabulary documents runs
      // the full admission path (within-batch CC → index probe → band
      // append → output write). The 100 TB claim is admission cost ∝
      // batch, so the ideal exponent is 0. min-of-2 uses two DIFFERENT
      // fresh batches: re-admitting the same batch would be rejected as
      // its own duplicate and skip the append half of the path.
      if (want("admit_batch")) {
        val tbl = "graft_bench_scale_admit"
        Warehouse.dropWithLocation(spark, tbl)
        Warehouse.save(Layout.SimHash, tbl,
          Dedup.simHashBandFrame(docs, "doc_id", split(col("text"), " ")))
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-scale-admit").toString + "/out"
        def freshBatch(tag: Int): DataFrame = scaleDocs(spark, sf, 1)
          .select((col("doc_id") + 800000000L + tag * 1000000L).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              x => concat(x, lit("_n"), lit(tag))), " ").as("text"))
        def once(tag: Int): Double = {
          val b = freshBatch(tag)
          val t0 = System.nanoTime()
          graft.streaming.StreamingDedup.admitBatch(
            b, "doc_id", "text", tbl, outDir)
          (System.nanoTime() - t0) / 1e9
        }
        record("admit_batch", k, math.min(once(1), once(2)))
        Warehouse.dropWithLocation(spark, tbl)
      }
      // MinHash probe path (q40b's scale evidence): band + shingle
      // frames prebuilt (excluded, like every index above), timed =
      // banded self-join + exact-Jaccard verification of candidates —
      // the recurring cost once the index is at rest
      if (want("q40_probe") || want("q40_cand")) {
        val mhSh = Dedup.shingles(docs, "doc_id", "text", 3).persist()
        val mhBands = Dedup.minHashBandFrameFromShingles(mhSh, "doc_id").persist()
        mhSh.count(); mhBands.count()
        if (want("q40_probe"))
          record("q40_probe", k, time(
            Dedup.minHashDedupPairsFrom(mhBands, mhSh, "doc_id")))
        // decomposition (§19): the banded candidate self-join alone —
        // the delta to q40_probe is the exact-Jaccard verify joins
        // against the shingle frame
        if (want("q40_cand"))
          record("q40_cand", k, time(
            Dedup.minHashCandidatePairsFrom(mhBands, "doc_id")))
        mhBands.unpersist(); mhSh.unpersist()
      }
      // MinHash admission at scale (admit_batch's Jaccard twin): the
      // standing band+shingle index grows k×, the admitted batch stays
      // FIXED 1×-sized with fresh vocabulary — admission cost ∝ batch,
      // ideal exponent 0. Two DIFFERENT fresh batches for min-of-2
      // (re-admitting the same batch self-rejects and skips the append).
      // Span (trigram-containment) admission at scale: standing gram
      // index grows k×, the admitted batch is a FIXED fresh 1× slice
      // (salted so it shares word-interior grams with the whole index
      // but never contains a doc) — the probe is bucket-pruned gram
      // lookups + the df-capped containment join, so cost must stay
      // ≈flat in the standing size
      if (want("trigram_admit")) {
        val tbl = "graft_bench_scale_tri_admit"
        Warehouse.dropWithLocation(spark, tbl)
        // repartition before the gram explode (the trigram_probe lesson:
        // the crossJoin-synthesized corpus streams through ~1 partition)
        Warehouse.save(Layout.Trigram, tbl,
          graft.operators.Search.trigramPostings(
            docs.repartition(32), "doc_id", "text"))
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-scale-tri-admit").toString + "/out"
        def freshTriBatch(tag: Int): DataFrame = scaleDocs(spark, sf, 1)
          .select((col("doc_id") + 800000000L + tag * 1000000L).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              x => concat(x, lit("_t"), lit(tag))), " ").as("text"))
        def onceTri(tag: Int): Double = {
          val b = freshTriBatch(tag)
          val t0 = System.nanoTime()
          graft.streaming.StreamingDedup.admitBatchTrigram(
            b, "doc_id", "text", tbl, outDir)
          (System.nanoTime() - t0) / 1e9
        }
        record("trigram_admit", k, math.min(onceTri(1), onceTri(2)))
        Warehouse.dropWithLocation(spark, tbl)
      }

      // winnowing admission (axis 6): index selection grows k×, the
      // admitted batch is a FIXED fresh 1× slice (salted tokens — its
      // grams hash away from every indexed doc's) — batch-side
      // selection + the hash join against the bucketed stored table,
      // expected in the flat admission band (winnow_probe's shape +
      // the within-batch closure on the fixed batch)
      if (want("winnow_admit")) {
        val tbl = "graft_bench_scale_wn_admit"
        Warehouse.dropWithLocation(spark, tbl)
        val idxSel = Dedup.winnowingFingerprints(
            docs.repartition(32), "doc_id", "text", 3, 4)
          .select(col("doc_id"), col("fp_hash")).distinct().transform(Materialize(_))
        val idxRare = idxSel.groupBy("fp_hash")
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= 200L).select("fp_hash")
        Warehouse.save(Layout.Winnow, tbl, idxSel.join(idxRare, "fp_hash"))
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-scale-wn-admit").toString + "/out"
        def freshWnBatch(tag: Int): DataFrame = scaleDocs(spark, sf, 1)
          .select((col("doc_id") + 700000000L + tag * 1000000L).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              x => concat(x, lit("_w"), lit(tag))), " ").as("text"))
        def onceWn(tag: Int): Double = {
          val b = freshWnBatch(tag)
          val t0 = System.nanoTime()
          graft.streaming.StreamingDedup.admitBatchWinnow(
            b, "doc_id", "text", tbl, outDir)
          (System.nanoTime() - t0) / 1e9
        }
        record("winnow_admit", k, math.min(onceWn(1), onceWn(2)))
        Warehouse.dropWithLocation(spark, tbl)
      }

      // Axis-7 quota admission at k× standing history: the counts
      // table holds k× the per-domain usage (one stamped partial per
      // synthetic past batch), a FIXED 1× batch arrives — the standing
      // read is domain-cardinality × batches, so expect near-flat
      // like the other admission axes.
      if (want("domain_admit")) {
        val tbl = "graft_bench_scale_dom_admit"
        Warehouse.dropWithLocation(spark, tbl)
        val perDomain = graft.operators.Url.urlParts(
            scaleDocs(spark, sf, 1).withColumn("url",
              graft.operators.Url.syntheticUrl(col("doc_id"), lit("en"))),
            col("url"))
          .select(coalesce(col("reg_domain"), lit("(invalid-url)"))
            .as("reg_domain"))
          .groupBy("reg_domain").agg(count(lit(1)).as("n"))
        // k stamped partials = k past batches: the merge-on-read input
        // the admission pays grows k× while the batch stays 1× (seeds
        // stamped NEGATIVE per the Layout.DomainCounts stamp contract
        // — non-negative stamps belong to admission rounds)
        val standing = perDomain
          .crossJoin(spark.range(k).toDF("_i"))
          .withColumn("batch_id", -col("_i") - 1)
          .drop("_i")
        Warehouse.save(Layout.DomainCounts, tbl, standing)
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-scale-dom-admit").toString + "/out"
        def freshDomBatch(tag: Int): DataFrame = scaleDocs(spark, sf, 1)
          .select((col("doc_id") + 800000000L + tag * 1000000L).as("doc_id"))
          .withColumn("url", graft.operators.Url.syntheticUrl(
            col("doc_id"), lit("en")))
        def onceDom(tag: Int): Double = {
          val b = freshDomBatch(tag)
          val t0 = System.nanoTime()
          graft.streaming.StreamingDedup.admitBatchDomainCap(
            b, "doc_id", "url", tbl, outDir, cap = 1000000L * k)
          (System.nanoTime() - t0) / 1e9
        }
        record("domain_admit", k, math.min(onceDom(1), onceDom(2)))
        Warehouse.dropWithLocation(spark, tbl)
      }

      // Variable per-domain cap (q273/q274's perDomainCapBy) at k× —
      // the rank filter is NOT a plan-visible constant, so NO
      // WindowGroupLimit pre-cap: the full corpus shuffles through the
      // per-domain windows (expect ~linear), and a planted 90%-hot
      // domain concentrates one window partition (the documented
      // salting case — measure it, don't hope)
      if (want("tiered_cap") || want("tiered_cap_skew")) {
        def capsOf(parts: DataFrame): DataFrame =
          parts.select("reg_domain").distinct()
            .select(col("reg_domain"),
              (lit(4L) + pmod(conv(substring(md5(col("reg_domain")), 1, 4),
                16, 10).cast("long"), lit(5))).as("cap"))
        def partsOf(k0: Int, hot: Boolean): DataFrame = {
          val base = scaleDocs(spark, sf, k0)
          val url =
            if (hot) when(pmod(col("doc_id"), lit(10)) =!= 0,
                concat(lit("https://hot.example.com/p/"),
                  col("doc_id").cast("string")))
              .otherwise(graft.operators.Url.syntheticUrl(col("doc_id"),
                lit("en")))
            else graft.operators.Url.syntheticUrl(col("doc_id"), lit("en"))
          graft.operators.Url.urlParts(
            base.withColumn("url", url), col("url"))
        }
        if (want("tiered_cap")) {
          val p = partsOf(k, hot = false)
          record("tiered_cap", k, time(
            graft.operators.Url.perDomainCapBy(p, "doc_id", capsOf(p), 12L)))
        }
        if (want("tiered_cap_skew")) {
          val p = partsOf(k, hot = true)
          record("tiered_cap_skew", k, time(
            graft.operators.Url.perDomainCapBy(p, "doc_id", capsOf(p), 12L)))
        }
      }

      // Axis-8 URL-dedup admission at scale: the standing canonical-key
      // index holds k× keys, a FIXED 1× batch of FRESH urls arrives —
      // the within-batch rank window is batch-sized, the reject
      // anti-join shuffles only the batch, and the standing side is a
      // sequential bucketed key scan; expect the near-flat admission
      // band of the other stored-index axes.
      if (want("url_admit")) {
        val tbl = "graft_bench_scale_url_admit"
        Warehouse.dropWithLocation(spark, tbl)
        val urlOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          id => graft.operators.Url.syntheticUrl(id, lit("en"))
        Warehouse.save(Layout.UrlKeys, tbl,
          scaleDocs(spark, sf, k).select(col("doc_id"),
            graft.operators.Url.canonicalizeUrlExt(urlOf(col("doc_id")))
              .as("url_key")))
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-scale-url-admit").toString + "/out"
        def onceUrl(tag: Int): Double = {
          val b = scaleDocs(spark, sf, 1)
            .select((col("doc_id") + 950000000L + tag * 1000000L).as("doc_id"))
            .withColumn("url", urlOf(col("doc_id")))
          val t0 = System.nanoTime()
          graft.streaming.StreamingDedup.admitBatchUrlDedup(
            b, "doc_id", "url", tbl, outDir)
          (System.nanoTime() - t0) / 1e9
        }
        record("url_admit", k, math.min(onceUrl(1), onceUrl(2)))
        Warehouse.dropWithLocation(spark, tbl)
      }

      if (want("minhash_admit")) {
        val tbl = "graft_bench_scale_mh_admit"
        Warehouse.drop(spark, Layout.minHash(), tbl)
        val idxSh = Dedup.shingles(docs, "doc_id", "text", 3).persist()
        try Warehouse.save(Layout.minHash(), tbl,
          Dedup.minHashBandFrameFromShingles(idxSh, "doc_id"), idxSh)
        finally idxSh.unpersist()
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-scale-mh-admit").toString + "/out"
        def freshBatch(tag: Int): DataFrame = scaleDocs(spark, sf, 1)
          .select((col("doc_id") + 900000000L + tag * 1000000L).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              x => concat(x, lit("_m"), lit(tag))), " ").as("text"))
        def onceMh(tag: Int): Double = {
          val b = freshBatch(tag)
          val t0 = System.nanoTime()
          graft.streaming.StreamingDedup.admitBatchMinHash(
            b, "doc_id", "text", tbl, outDir)
          (System.nanoTime() - t0) / 1e9
        }
        record("minhash_admit", k, math.min(onceMh(1), onceMh(2)))
        Warehouse.drop(spark, Layout.minHash(), tbl)
      }
      // Lexical-cosine admission at scale (minhash_admit's cosine twin):
      // the standing capped-tf index grows k×, the probed batch stays a
      // FIXED unsalted 1× slice (it must share vocabulary with rep 0 or
      // the candidate join would be vacuously empty) — probe cost must
      // track the batch's matching postings, not the corpus
      if (want("lexical_admit")) {
        val tbl = "graft_bench_scale_lexical"
        Warehouse.drop(spark, Layout.Lexical, tbl)
        val corpusTf = Dedup.cappedLexicalTf(docs, "doc_id", "text", 400L)
        Warehouse.save(Layout.Lexical, tbl, corpusTf,
          Dedup.lexicalNorms(corpusTf))
        val batch = scaleDocs(spark, sf, 1)
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        record("lexical_admit", k, time(
          Dedup.lexicalCosineAgainst(batch, "doc_id", "text",
            spark.table(tbl),
            spark.table(Warehouse.sideTable(tbl, Side.Norms)), 0.8)))
        Warehouse.drop(spark, Layout.Lexical, tbl)
      }
      // incremental closure maintenance (q220): standing cluster table
      // from the k× pair graph, a FIXED 1×-sized delta (bridging new
      // ids onto existing components) merged in. Expect the flat
      // admission band: the solver re-runs on touched components ∪
      // delta only — blast radius ∝ delta, never ∝ corpus
      if (want("cc_augment")) {
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
          .select("da", "db").persist()
        pairs.count()
        val stored = Dedup.dedupClustersStar(pairs, "da", "db").persist()
        stored.count()
        val delta = Dedup.ngramJaccardPairs(scaleDocs(spark, sf, 1),
            "doc_id", "text", 3, 0.6)
          .select(col("da"), (col("db") + 500000000L).as("db"))
        record("cc_augment", k, time(
          Dedup.dedupClustersAugment(stored, delta, "da", "db")))
        pairs.unpersist(); stored.unpersist()
      }

      // the nlistFor policy measured (q41c_logbits' IVF sibling):
      // cells grow as sqrt(N) so the visited fraction nprobe/nlist
      // FALLS as the corpus grows — probe cost should flatten vs the
      // fixed-nlist linear regime (ivfpq_probe exp 0.80), with the
      // recall@3 this buys recorded next to the cost, q41c-style
      if (want("ivfpq_nlist")) {
        val nl = Similarity.nlistFor(nEmb)
        val tbl = "graft_bench_scale_ivfpqn"
        def cents = spark.table(Warehouse.sideTable(tbl, Side.Centroids))
        def codebk = spark.table(Warehouse.sideTable(tbl, Side.Codebook))
        val (codes, centroids, codebook) = Similarity.ivfPqIndex(
          emb.repartition(64), "vec_id", "embedding", nlist = nl,
          subspaces = 16)
        Warehouse.save(Layout.IvfPq, tbl, codes, centroids, codebook)
        val probes = emb.filter(col("vec_id") < 5)
        val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
          .select("probe_id", "nn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // nprobe from the log-N policy (nprobeFor), not a constant:
        // the fixed nprobe=12 this op shipped with read recall 0.8 at
        // 100x — the exact decay the policy exists to close
        val np = Similarity.nprobeFor(nEmb, nl)
        System.err.println(s"SCALE ivfpq_nlist ${k}x: nlist=$nl nprobe=$np")
        def got(): Set[(Long, Long)] = Similarity.ivfPqTopKFrom(
            spark.table(tbl), cents, codebk, emb, probes,
            "vec_id", "embedding", k = 3, nprobe = np, candidates = 150,
            subspaces = 16)
          .select("probe_id", "nn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        record("ivfpq_nlist", k, time(Similarity.ivfPqTopKFrom(
          spark.table(tbl), cents, codebk, emb, probes,
          "vec_id", "embedding", k = 3, nprobe = np, candidates = 150,
          subspaces = 16)))
        recordRecall("ivfpq_nlist", k, nl, (exact & got()).size / 15.0)
        // one-build config grid (tuning runs only): reuse the stored
        // index to read recall at alternate (nprobe, candidates) pairs
        // — distinguishes cell-miss losses (nprobe-limited) from ADC
        // rank losses (candidates-limited) without paying a rebuild
        sys.env.get("SPARK_GRAFT_IVFPQ_GRID").foreach { grid =>
          grid.split(",").foreach { pair =>
            val Array(gNp, gCand) = pair.split(":").map(_.trim.toInt)
            val g = Similarity.ivfPqTopKFrom(
                spark.table(tbl), cents, codebk, emb, probes,
                "vec_id", "embedding", k = 3, nprobe = gNp,
                candidates = gCand, subspaces = 16)
              .select("probe_id", "nn_id").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            recordRecall(s"ivfpq_g${gNp}c$gCand", k, gNp,
              (exact & g).size / 15.0)
          }
        }
        Warehouse.drop(spark, Layout.IvfPq, tbl)
      }

      // semantic admission (the quartet's fourth member): standing
      // sign-LSH index grown k× at rest, a FIXED 1×-sized batch runs
      // one full admission round (within-batch reps + stored-index
      // exact-cosine rejection + survivor append). Expect the flat
      // admission band — the probe join is bucket-colocated, the
      // append encodes only the batch
      if (want("semantic_admit")) {
        val tbl = "graft_bench_scale_semantic"
        Warehouse.dropWithLocation(spark, tbl)
        Warehouse.save(Layout.Ann.copy(floor = 16), tbl,
          Similarity.annBucketFrame(emb.repartition(64), "vec_id", "embedding"))
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-scale-sem").toString + "/out"
        var round = 0
        record("semantic_admit", k, timeUnit {
          round += 1
          val batch = scaleEmb(spark, sf, 1)
            .select((col("vec_id") + 900000000L + round * 10000000L)
              .as("vec_id"), col("embedding"))
          graft.streaming.StreamingDedup.admitBatchSemantic(
            batch, "vec_id", "embedding", tbl, outDir)
        })
        Warehouse.dropWithLocation(spark, tbl)
      }
      if (want("q83_pq")) {
        // q83: full PQ pipeline at the oracle config (fit+encode+ADC+re-rank)
        val pqProbes = emb.filter(col("vec_id") < 5)
        record("q83_pq", k, time(
          Similarity.pqCosineTopK(emb, pqProbes, "vec_id", "embedding",
            k = 3, candidates = 150)))
      }
      if (want("q41c_probe")) {
        // q41c probe path: LSH index prebuilt (excluded), 500-probe lookup
        // timed at the measured-recall bench config (32×6)
        val idx = Similarity.annBucketFrame(emb, "vec_id", "embedding",
          tables = 32, bits = 6).persist()
        idx.count()
        val annProbes = emb.filter(col("vec_id") < 500)
        record("q41c_probe", k, time(
          Similarity.annCosineTopKFrom(idx, annProbes, "vec_id", "embedding",
            k = 3, tables = 32, bits = 6)))
        idx.unpersist()
      }
      if (want("q41c_logbits")) {
        // the SCALE.md §5 design rule, measured instead of asserted:
        // bits grows with log₂(corpus) so expected bucket occupancy
        // N/2^bits — and with it per-probe candidate count and cost —
        // stays ~flat as the corpus grows. Recall@3 vs the exact kNN is
        // re-measured at every (scale, bits) on the SAME scaled corpus,
        // so flat cost is never bought with silent recall loss.
        val bits = 6 + (math.log(k.toDouble) / math.log(2)).round.toInt
        val idx = Similarity.annBucketFrame(emb, "vec_id", "embedding",
          tables = 32, bits = bits).persist()
        idx.count()
        // probe ids < 500 are always rep-0 originals: a FIXED probe load
        // against a growing corpus
        val annProbes = emb.filter(col("vec_id") < 500)
        def ann() = Similarity.annCosineTopKFrom(idx, annProbes,
          "vec_id", "embedding", k = 3, tables = 32, bits = bits)
        record("q41c_logbits", k, time(ann()))
        val exact = Similarity.knnBatch(emb, annProbes,
          "vec_id", "embedding", k = 3).select("probe_id", "nn_id")
        val hits = exact
          .join(ann().select("probe_id", "nn_id"), Seq("probe_id", "nn_id"))
          .count()
        val rec = hits.toDouble / (3.0 * annProbes.count())
        recordRecall("q41c_logbits", k, bits, rec)
        // the multi-probe close (flipsFor): same stored index, probe
        // side carries 1+flips keys per table with flips ∝ log of the
        // corpus growth — the policy that restores the recall the
        // held-occupancy bits give up at scale
        val flips = Similarity.flipsFor(nEmb)
        def annMp() = Similarity.annCosineTopKFromMulti(idx, annProbes,
          "vec_id", "embedding", k = 3, tables = 32, bits = bits,
          flips = flips)
        record("q41c_mp", k, time(annMp()))
        val hitsMp = exact
          .join(annMp().select("probe_id", "nn_id"), Seq("probe_id", "nn_id"))
          .count()
        recordRecall("q41c_mp", k, flips,
          hitsMp.toDouble / (3.0 * annProbes.count()))
        idx.unpersist()
      }
      // incremental index maintenance at scale: the STORED index grows
      // k× (build excluded, like every index build above) while the
      // appended batch stays FIXED — the 1× embeddings re-keyed into a
      // fresh id range, encoded against the stored model (never refit)
      // and appended to the bucketed table. The 100 TB claim is append
      // cost ∝ batch size, so the ideal exponent is 0.
      if (want("ivf_append") || want("pq_append")) {
        val batch = scaleEmb(spark, sf, 1)
          .select((col("vec_id") + 900000000L).as("vec_id"),
            col("embedding")).persist()
        batch.count()
        if (want("ivf_append")) {
          val (cells, centroids) =
            Similarity.ivfIndex(emb, "vec_id", "embedding")
          Warehouse.save(Layout.Ivf, "graft_bench_scale_ivf", cells, centroids)
          val storedCentroids = spark.table(
            Warehouse.sideTable("graft_bench_scale_ivf", Side.Centroids))
          record("ivf_append", k, timeUnit(
            Warehouse.append(Layout.Ivf, "graft_bench_scale_ivf",
              Similarity.ivfAssign(batch, "vec_id", "embedding",
                storedCentroids).select("id", "emb", "cell"))))
        }
        if (want("pq_append")) {
          val (codes, codebook) =
            Similarity.pqIndex(emb, "vec_id", "embedding")
          Warehouse.save(Layout.Pq, "graft_bench_scale_pq", codes, codebook)
          val storedCodebook = spark.table(
            Warehouse.sideTable("graft_bench_scale_pq", Side.Codebook))
          record("pq_append", k, timeUnit(
            Warehouse.append(Layout.Pq, "graft_bench_scale_pq",
              Similarity.pqEncode(batch, "vec_id", "embedding",
                storedCodebook))))
        }
        batch.unpersist()
      }

      // JL projection (q216): pure map over k× embeddings — the
      // bytes-per-vector cut upstream of every ANN family. Expect
      // clean linearity (no shuffle, no fit, closure-carried matrix)
      if (want("jl_project")) record("jl_project", k, time(
        Similarity.randomProjection(emb, "vec_id", "embedding",
          outDim = 16, dim = 64)))

      // IVF-PQ composite (q214): the stored index grows k×; timed are
      // (a) the no-refit batch append — expect the flat admission band
      // like ivf/pq_append — and (b) the probe against the stored
      // bucketed codes at the q214 contract config — expect cost ∝
      // visited code rows (k × nprobe/nlist × subspaces ints), the
      // pruned-linear regime the cell bucketing buys
      if (want("ivfpq_append") || want("ivfpq_probe")) {
        val tbl = "graft_bench_scale_ivfpq"
        def cents = spark.table(Warehouse.sideTable(tbl, Side.Centroids))
        def codebk = spark.table(Warehouse.sideTable(tbl, Side.Codebook))
        // untimed build: spread the encode scan — the synthetic
        // crossJoin corpus inherits the base parquet's ONE partition,
        // which serializes a 32M-row encode that real multi-file
        // inputs parallelize for free (the fit is hash-ranked, so the
        // repartition cannot change it)
        val (codes, centroids, codebook) = Similarity.ivfPqIndex(
          emb.repartition(64), "vec_id", "embedding", subspaces = 16)
        Warehouse.save(Layout.IvfPq, tbl, codes, centroids, codebook)
        if (want("ivfpq_append")) {
          val batch = scaleEmb(spark, sf, 1)
            .select((col("vec_id") + 900000000L).as("vec_id"),
              col("embedding")).persist()
          batch.count()
          record("ivfpq_append", k, timeUnit(
            Warehouse.append(Layout.IvfPq, tbl,
              Similarity.ivfPqEncode(batch, "vec_id", "embedding",
                cents, codebk, subspaces = 16))))
          batch.unpersist()
        }
        if (want("ivfpq_probe")) {
          val probes = emb.filter(col("vec_id") < 5)
          record("ivfpq_probe", k, time(
            Similarity.ivfPqTopKFrom(spark.table(tbl),
              cents, codebk,
              emb, probes, "vec_id", "embedding", k = 3, nprobe = 12,
              candidates = 150, subspaces = 16)))
        }
        Warehouse.drop(spark, Layout.IvfPq, tbl)
      }
      docs.unpersist(); emb.unpersist()
      }
    }

    val expPair = if (scales.size >= 2)
      Some((scales.dropRight(1).last, scales.last)) else None
    val opsJson = results.map { case (op, byScale) =>
      val times = byScale.map { case (s, t) => s""""${s}x":${f"$t%.3f"}""" }
        .mkString(",")
      // an op gated off the largest scale (two_hop_uncapped stops at
      // 10× by design) has no exponent between the global last pair
      val expPart = expPair.collect {
        case (kLo, kHi) if byScale.contains(kLo) && byScale.contains(kHi) =>
          val exp = math.log(byScale(kHi) / byScale(kLo)) /
            math.log(kHi.toDouble / kLo)
          s""","exponent":${f"$exp%.3f"}"""
      }.getOrElse("")
      val recallPart = recalls.get(op).map { byK =>
        val rs = byK.map { case (s, (bits, r)) =>
          s""""${s}x":{"bits":$bits,"recall_at_3":${f"$r%.3f"}}"""
        }.mkString(",")
        s""","config":{$rs}"""
      }.getOrElse("")
      s""""$op":{$times$expPart$recallPart}"""
    }.mkString(",")
    val expLabel = expPair
      .map { case (l, h) => s""","exponent_between":["${l}x","${h}x"]""" }
      .getOrElse("")
    println(s"""{"metric":"scale","sf":"$sf","scales":[${scales.mkString(",")}]$expLabel,"ops":{$opsJson}}""")
    spark.stop()
  }
}
