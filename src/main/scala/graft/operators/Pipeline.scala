package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators beyond dedup/similarity: the
 * bookkeeping every LLM corpus build needs between "deduplicated" and
 * "ready to train" — deterministic split assignment, sequence packing,
 * and benchmark decontamination.
 *
 * Scale notes (100 TB):
 *  - every op here is a scan plus at most one shuffle (window or
 *    aggregate) on a bounded key (split id, (lang, pack), shingle);
 *  - hash-splitting is pure per-row arithmetic on `md5(id)` — no
 *    coordination, stable under re-runs and cluster re-partitioning,
 *    and reproducible in any engine (the q54 oracle recomputes it in
 *    DuckDB);
 *  - the contamination screen is the standard n-gram screen: the
 *    benchmark side is tiny by construction, so the join broadcasts;
 *    corpus shingles stream past it without a corpus-side shuffle.
 */
object Pipeline {

  /** 16-bit bucket from the first 4 hex digits of md5(idCol) —
    * deterministic, engine-independent (same value as DuckDB's
    * `CAST('0x'||substr(md5(id),1,4) AS INTEGER)`). */
  def hashBucket16(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int")

  /** Train/val/test thresholds over the 16-bit bucket space; single
    * source of truth for the Spark plan AND the generated oracle SQL. */
  val SplitThresholds: Seq[(String, Int)] =
    Seq("train" -> 52429, "val" -> 58982) // ~80% / ~10% / ~10% of 65536

  /** Split label for a document id. */
  def splitLabel(id: Column): Column = {
    val h = hashBucket16(id)
    SplitThresholds.foldRight(lit("test")) { case ((name, bound), rest) =>
      when(h < bound, name).otherwise(rest)
    }
  }

  /** Per-split document and token totals — the post-dedup split audit. */
  def hashSplit(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(splitLabel(col(idCol)).as("split"),
        size(split(col(textCol), " ")).cast("long").as("_tok"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("_tok").as("tokens"))

  /** k-fold cross-validation assignment — [[splitLabel]]'s rotating
    * sibling: `fold = bucket16(id) mod k`, pure per-row arithmetic
    * (content-keyed, re-runnable, engine-reproducible), so fold i's
    * validation slice is `fold === i` and its training slice is the
    * complement — no shuffling state, no seed bookkeeping. */
  def kfold(id: Column, k: Int): Column = {
    require(k >= 2, s"k must be >= 2, got $k")
    pmod(hashBucket16(id), lit(k)).cast("long")
  }

  /**
   * Leakage-safe k-fold split: near-duplicate CLUSTERS, not documents,
   * are the unit of fold assignment. A content-keyed per-doc k-fold
   * ([[kfold]]) strands ~(k−1)/k of near-dup pairs across a
   * train/eval boundary — the eval contamination that inflates scores
   * and that dedup-then-split pipelines exist to prevent. Here every
   * doc joins its near-dup cluster label ([[Dedup.dedupClusters]] over
   * ANY pair frame — whatever blocked/banded family produced it; docs
   * in no pair are their own singleton cluster) and the fold is
   * [[kfold]] OF THE CLUSTER, so all members land together and
   * cross-fold near-dup pairs are zero by construction.
   *
   * Scale shape: clustering is the pair frame's propagation (bounded
   * by the dedup family that made the pairs — never all-pairs); the
   * label attach is one equi-join on doc id; fold assignment is
   * per-row arithmetic carrying no seed state. Returns
   * `(idCol, cluster, fold)`.
   */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String, k: Int): DataFrame = {
    val clusters = Dedup.dedupClusters(pairs, aCol, bCol)
      .select(col("node").as(idCol), col("lbl").as("_lbl"))
    docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("_lbl"), col(idCol)).as("cluster"))
      .withColumn("fold", kfold(col("cluster"), k))
  }

  /**
   * Contiguous sequence packing: within each `byCol` stream ordered by
   * id, documents are appended to the current pack until `capacity`
   * tokens, i.e. pack = floor(preceding-token-count / capacity). One
   * window shuffle on (byCol); the pack id is pure arithmetic on the
   * running sum — no stateful packer, so the layout is reproducible
   * from the sort key alone (which also makes it restartable).
   */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    byCol: String, capacity: Int): DataFrame = {
    val w = Window.partitionBy(byCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tok = size(split(col(textCol), " ")).cast("long")
    docs.select(col(byCol), col(idCol), tok.as("_tok"))
      .withColumn("_run", sum(col("_tok")).over(w))
      .withColumn("pack_id",
        floor((col("_run") - col("_tok")) / capacity).cast("long"))
      .groupBy(col(byCol), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum("_tok").as("pack_tokens"))
  }

  /**
   * Deterministic T5/UL2-style span corruption — the denoising
   * objective's DATA PREP: tokens are grouped into fixed blocks, a
   * deterministic md5 draw on `(doc_id, block)` marks ~1/denom of the
   * blocks, and each marked block is replaced by a numbered sentinel
   * in the encoder input while the decoder target lists each sentinel
   * followed by the tokens it hides. Returns
   * `(idCol, n_spans, input, target)`.
   *
   * Determinism is the point: re-runs, re-partitionings, and the
   * DuckDB twin (list comprehensions over the same md5 arithmetic)
   * produce byte-identical pairs, so the corruption is reproducible
   * across epochs and auditable. Map-only (no shuffle); the lambdas
   * are HOF-interpreted rather than codegen'd, but the corrupted-block
   * array is projected ONCE per row and each lambda pass is O(tokens)
   * — the per-row cost is a small constant multiple of tokenization,
   * flat at any corpus size (ScaleBench `span_corrupt`).
   */
  def spanCorrupt(docs: DataFrame, idCol: String, textCol: String,
                  block: Int = 3, denom: Int = 6): DataFrame = {
    val toks = split(col(textCol), " ")
    // number of blocks = ceil(n/block); n <= 2^26 keeps the float
    // floor exact (token counts are nowhere near the 2^53 boundary)
    val nBlocks = floor((size(toks) + lit(block - 1)) / lit(block)).cast("int")
    def isCorrupt(b: Column): Column =
      pmod(conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
        b.cast("string"))), 1, 4), 16, 10).cast("long"), lit(denom)) === 0
    def sentinel(k: Column): Column =
      concat(lit("<extra_id_"), k.cast("string"), lit(">"))
    def chunk(tk: Column, b: Column): Column =
      slice(tk, b * block + 1, lit(block))
    docs
      .select(col(idCol), toks.as("_toks"),
        filter(sequence(lit(0), nBlocks - 1), isCorrupt _).as("_corr"))
      .select(col(idCol),
        size(col("_corr")).cast("long").as("n_spans"),
        array_join(flatten(transform(
          sequence(lit(0), floor((size(col("_toks")) + lit(block - 1)) /
            lit(block)).cast("int") - 1),
          b => when(isCorrupt(b),
              array(sentinel(array_position(col("_corr"), b) - 1)))
            .otherwise(chunk(col("_toks"), b)))), " ").as("input"),
        array_join(flatten(transform(col("_corr"),
          (b, k) => concat(array(sentinel(k)), chunk(col("_toks"), b)))),
          " ").as("target"))
  }

  /**
   * Prefix-LM split (UL2's S-denoiser data prep): the first
   * `num/den` of a document's tokens become the encoder input, the
   * rest the decoder target — exact integer split point
   * (`(n·num) div den`, clamped to ≥1 so every doc has a non-empty
   * input). Pure per-row arithmetic; the natural third mode next to
   * [[spanCorrupt]]'s R (short-span) and X (long-span/aggressive)
   * parameterizations.
   */
  def prefixLmSplit(docs: DataFrame, idCol: String, textCol: String,
                    num: Int = 3, den: Int = 4): DataFrame = {
    val toks = split(col(textCol), " ")
    docs.select(col(idCol), toks.as("_toks"))
      .withColumn("_k",
        greatest(expr(s"(size(_toks) * $num) div $den"), lit(1)).cast("int"))
      .select(col(idCol),
        array_join(slice(col("_toks"), lit(1), col("_k")), " ").as("input"),
        array_join(slice(col("_toks"), col("_k") + 1,
          size(col("_toks"))), " ").as("target"))
  }

  /**
   * Deterministic stratified downsampling: a row survives when its
   * 16-bit md5 bucket falls below `floor(rate × 65536)` for its
   * stratum. Pure per-row arithmetic — no sampling state, no shuffle,
   * stable under re-runs/re-partitioning, and engine-reproducible (the
   * q72 oracle recomputes the same CASE) — which is what a corpus
   * rebalance (e.g. per-language mixture weights) needs at 100 TB:
   * `sample()` is seed × partitioning dependent, this is content-keyed.
   * Strata absent from `rates` fall back to `defaultRate`.
   */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Seq[(String, Double)],
                       defaultRate: Double = 1.0): DataFrame = {
    def bound(rate: Double) = math.floor(rate * 65536).toInt
    val thr = rates.foldRight(lit(bound(defaultRate)): Column) {
      case ((stratum, rate), rest) =>
        when(col(strataCol) === stratum, lit(bound(rate))).otherwise(rest)
    }
    df.filter(hashBucket16(col(idCol)) < thr)
  }

  /**
   * Importance-weighted deterministic sampling — [[stratifiedSample]]'s
   * continuous sibling: a row survives iff its 16-bit md5 bucket falls
   * below `clamp(weight, 0, 1) × 65536`, so keep probability tracks any
   * per-row weight expression (quality score, length prior, mixture
   * coefficient) while staying pure per-row arithmetic: re-runnable,
   * partitioning-proof, engine-reproducible.
   */
  def weightedSample(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val w = least(lit(1.0), greatest(lit(0.0), weight))
    df.filter(hashBucket16(col(idCol)) < w * 65536.0)
  }

  /**
   * Deterministic global shuffle — the epoch-shuffle primitive a training
   * pipeline runs before streaming a corpus: every row gets a pseudorandom
   * but REPRODUCIBLE sort key `md5(id || ':' || seed)` and the frame is
   * globally ordered by it (a new seed per epoch gives an independent
   * permutation of the same corpus). Pure per-row arithmetic — re-runnable,
   * partitioning-proof, engine-reproducible (the same md5-hex ordering is
   * expressible in any SQL engine) — and the global sort is Spark's
   * range-partitioned exchange: each writer task receives a contiguous,
   * already-sorted slice, so "write the corpus in shuffled order" is one
   * pass with no driver involvement. The key rides along so downstream
   * stages can re-sort or resume mid-epoch without recomputing it.
   */
  def shuffleDeterministic(df: DataFrame, idCol: String, seed: Long): DataFrame =
    df.withColumn("shuffle_key",
        md5(concat(col(idCol).cast("string"), lit(":"), lit(seed.toString))))
      .orderBy("shuffle_key", idCol)

  /** Quality gate default for [[prepareCorpus]] — shared with the q90
    * oracle generator so the two sides cannot drift. */
  val PrepQualityThreshold = 0.5

  /**
   * The end-to-end training-corpus preparation pipeline — the
   * composition a 100 TB ingest actually runs, every stage one of the
   * individually-measured operators: (1) quality gate
   * ([[TextAnalysis.qualityScore]] ≥ threshold; the score rounds to 4
   * decimals on both engines, so the cut is bit-identical); (2) exact
   * dedup (min-id representative per distinct text, hash-keyed exchange
   * — bodies never shuffle); (3) fuzzy dedup APPLIED (word-3-gram
   * Jaccard pairs via shingle blocking → large-star/small-star connected
   * components → non-representatives dropped); (4) deterministic epoch
   * shuffle ([[shuffleDeterministic]], seed-keyed md5 order). Returns
   * the surviving corpus in epoch order with its `shuffle_key`.
   *
   * Scale shape: the gate is per-row arithmetic in the scan, exact
   * dedup exchanges 8-byte hashes, pair generation is the q26/q40
   * blocked join (never all-pairs), clustering is the
   * diameter-independent q84 alternation, and the shuffle is one range
   * exchange. No stage collects, and the corpus body crosses an
   * exchange only in the final sort — once.
   */
  def prepareCorpus(docs: DataFrame, idCol: String, textCol: String,
                    qualityThreshold: Double = PrepQualityThreshold,
                    jaccardThreshold: Double = 0.6,
                    seed: Long = 7L): DataFrame = {
    val gated = docs.filter(
      TextAnalysis.qualityScore(col(textCol)) >= qualityThreshold)
    val minIds = gated.groupBy(xxhash64(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as(idCol))
      .drop("_h")
    // materialized once: the pair pipeline, the CC anti-join, and the
    // shuffle-key projection all read the exact-deduped survivors, and
    // each re-read re-ran the quality gate (entropy + stopword scan over
    // every doc — the most expensive scalar in this pipeline, r16)
    val exact = gated.join(minIds, Seq(idCol), "left_semi")
      .transform(Materialize(_))
    val pairs = Dedup.ngramJaccardPairs(exact, idCol, textCol,
      n = 3, threshold = jaccardThreshold)
    val drop = Dedup.dedupClustersStar(pairs, "da", "db")
      .filter(col("node") =!= col("lbl"))
      .select(col("node").as(idCol))
    shuffleDeterministic(exact.join(drop, Seq(idCol), "left_anti"),
      idCol, seed)
  }

  /**
   * Latest-row-wins compaction — the CDC / SCD-type-1 upsert merge: one
   * surviving row per key, chosen by the LAST position in `orderCols`
   * (later version wins; make the last order column unique so the
   * winner is total-ordered). One window shuffle on the key — the same
   * cost as the groupBy a MERGE would need — and the whole changelog
   * never leaves its key partition.
   */
  def latestByKey(df: DataFrame, keyCols: Seq[String],
                  orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
    // dodge existing names: withColumn would silently REPLACE a
    // caller's _rn and drop would then destroy their data (same
    // failure mode as the round-3 _salt advice on Skew)
    val rn = Iterator.from(0).map(i => if (i == 0) "_rn" else s"_rn$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn)
  }

  /**
   * Sliding-window document chunking: word windows of `chunkSize` with
   * `overlap` words shared between consecutive chunks (stride =
   * chunkSize − overlap; starts 1, 1+stride, … ≤ word count, so the
   * tail chunk may be short). Emits (id, chunk_id, n_tok, chunk_md5) —
   * the md5 proves chunk CONTENT cross-engine without shipping the
   * text. Pure per-row array arithmetic: explodes inside codegen, no
   * shuffle, trivially parallel — the shape context-window preparation
   * needs at corpus scale.
   */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got $overlap/$chunkSize")
    val stride = chunkSize - overlap
    val ws = split(col(textCol), " ")
    docs.select(col(idCol), explode(transform(
        sequence(lit(1), size(ws), lit(stride)),
        s => struct(floor((s - 1) / stride).cast("long").as("chunk_id"),
          slice(ws, s, lit(chunkSize)).as("arr")))).as("c"))
      .select(col(idCol), col("c.chunk_id"),
        size(col("c.arr")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("c.arr"))).as("chunk_md5"))
  }

  /** Fixed-width value histogram per group: bin = floor(value / width).
    * One aggregation with map-side partials over a (group, bin) key
    * space bounded by the value range — the scan-shaped profile every
    * curation dashboard starts from. */
  def histogram(df: DataFrame, valueCol: String, width: Double,
                byCols: Seq[String]): DataFrame =
    df.groupBy(byCols.map(col) :+
        floor(col(valueCol) / width).cast("long").as("bin"): _*)
      .agg(count(lit(1)).as("cnt"))

  // ---------------------------------------------------------------------
  // Mergeable quantile sketch (HDR-style log2 histogram) — the percentile
  // complement of the q78 HLL sketch table. Values are scaled to integer
  // hundredths, bucketed by (bit-length, top-4-bits): pure integer
  // arithmetic in BOTH engines (length(bin(u)) / shifts), so sketches are
  // bit-identical cross-engine — no transcendental log whose last ulp
  // could flip a boundary value into the neighboring bucket. Counts merge
  // by addition, so per-day sketches persisted at rest re-aggregate to
  // EXACTLY the sketch of the union (the property that lets 100 TB of
  // history answer "p95 over any slice" from kilobytes per group).
  // Guarantee: top-4-bit sub-buckets give lb <= v < lb*(1 + 1/8), so the
  // reported lower bound underestimates the true quantile by < 12.5%.
  // (Same guarantee family as DDSketch / HdrHistogram, in integer form.)
  // ---------------------------------------------------------------------

  /** Scaled value -> sketch bucket id: `major*16 + minor` where `major` is
    * the bit length of u and `minor` its top 4 bits (u itself when u < 16).
    * Monotone in u, so bucket order IS value order. */
  private def hdrBucket(u: Column): Column = {
    val major = length(bin(u)).cast("long")
    val minor = call_function("shiftright", u,
      greatest(major - 4, lit(0L)).cast("int"))
    (major * 16 + minor).as("bucket")
  }

  /** Bucket lower bound in scaled units: `minor << max(major-4, 0)`. */
  private val hdrLowerBound: Column =
    expr("shiftleft(bucket % 16, cast(greatest(bucket div 16 - 4, 0) as int))")

  /** Public face of the bucket math: value → sketch bucket id, scaling
    * and clamping included — the grouping expression streaming sketches
    * ([[graft.streaming.SlowLogStream.digestLatencySketch]]) share with
    * the batch build so their counts merge. */
  def hdrBucketOf(value: Column): Column =
    hdrBucket(greatest(floor(value * 100).cast("long"), lit(1L)))

  /** Per-(byCols, bucket) counts over `max(floor(value*100), 1)` — the
    * at-rest sketch frame. Include a day/partition column in `byCols` to
    * persist per-partition sketches; [[hdrMerge]] collapses them. One
    * map-side-combined aggregation; the exchange carries (group, long,
    * long) rows whose cardinality is bounded by |groups| * ~1000 buckets
    * regardless of row count. */
  def hdrSketch(df: DataFrame, valueCol: String, byCols: Seq[String]): DataFrame =
    df.groupBy(byCols.map(col) :+ hdrBucketOf(col(valueCol)): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Merge sketches down to `byCols` (drop finer split keys): counts add. */
  def hdrMerge(sketch: DataFrame, byCols: Seq[String]): DataFrame =
    sketch.groupBy(byCols.map(col) :+ col("bucket"): _*)
      .agg(sum("cnt").as("cnt"))

  /** Percentile estimates from a merged sketch. `pcts` are integer
    * percents (e.g. 50, 95, 99) so the rank threshold
    * `ceil(n*pct/100) = (n*pct + 99) div 100` is exact integer arithmetic
    * in any engine. Returns one row per group: n_rows plus a `pNN` column
    * (bucket lower bound, unscaled back to value units) per percentile. */
  def hdrQuantiles(sketch: DataFrame, byCols: Seq[String],
                   pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentiles must be integer percents in [1, 100], got $pcts")
    val grp = Window.partitionBy(byCols.map(col): _*)
    val cum = grp.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = sketch
      .withColumn("cum", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over(grp))
      .withColumn("lb", hdrLowerBound)
    val aggs = max(col("n")).as("n_rows") +: pcts.map { p =>
      // rank threshold ceil(n*p/100) in pure integer arithmetic (Column./
      // would be DOUBLE division); /100.0 at the end unscales the integer
      // lower bound identically in any IEEE engine
      (min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col("lb")))
        / 100.0).as(s"p$p")
    }
    base.groupBy(byCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---------------------------------------------------------------------
  // Z-order clustering — multi-column data skipping. Sorting a table by
  // ONE column gives perfect file-level min/max pruning on that column
  // and none on any other; interleaving the bits of two bucket ids gives
  // every file a small min/max BOX in (x, y) space, so range predicates
  // on EITHER or BOTH dimensions skip most files. This is the layout
  // trick behind Delta/Iceberg Z-ordering, reduced to its public core:
  // bucket → bit-interleave → range-partitioned sort. The key is pure
  // integer arithmetic (literal shifts), generated ONCE for both engines
  // so the oracle cannot drift from the plan.
  // ---------------------------------------------------------------------

  /** Bit-interleave two bucket ids (each in `[0, 2^bits)`) into a
    * Z-value: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * All shifts are literals — one codegen'd integer expression, no UDF. */
  def zorderKey(x: Column, y: Column, bits: Int = 9): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }

  /** The SAME interleave as [[zorderKey]], rendered as engine-neutral SQL
    * over the given column expressions — generated from one loop so the
    * DuckDB oracle and the Spark plan share the arithmetic by
    * construction (the qualityScoreSql pattern). */
  def zorderKeySql(x: String, y: String, bits: Int = 9): String =
    (0 until bits).map { i =>
      s"(((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  /**
   * CCNet-style segment-level deduplication — the line-level dedup of
   * the CommonCrawl pipelines (CCNet, RefinedWeb, Gopher's repetition
   * filters) re-expressed over newline-free documents: the text is cut
   * into fixed `segWords`-word positional segments, a segment is
   * boilerplate when it occurs in more than one distinct document, and
   * the cleaned document is the in-order concatenation of its surviving
   * segments. Emits one audit row per document: segment counts, dropped
   * (duplicated) segment count, surviving token count, and the md5 of
   * the reassembled cleaned text — the fingerprint proves the CONTENT of
   * the rebuild cross-engine without shipping the text (chunk_md5
   * pattern, [[chunkDocuments]]).
   *
   * Scale shape (100 TB): segmenting is per-row array arithmetic inside
   * the scan; the document-frequency count is one map-side-combined
   * aggregation over (segment, doc) pairs whose exchange carries hashes
   * of segments, not documents; the frequency join back is an equi-join
   * on the segment key (AQE skew-splits the boilerplate keys — exactly
   * the keys that ARE hot); the rebuild is one per-doc aggregation. No
   * stage is all-pairs and nothing collects.
   */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   segWords: Int): DataFrame = {
    require(segWords >= 1, s"segWords must be >= 1, got $segWords")
    val ws = split(col(textCol), " ")
    // pos from posexplode over the stride-segWords start sequence IS the
    // 0-based segment id; slice truncates the tail segment like the
    // oracle's clamped list slice
    val segs = docs
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(ws), lit(segWords)),
        s => concat_ws(" ", slice(ws, s, lit(segWords))))))
      .select(col(idCol), col("pos").cast("long").as("seg_id"),
        col("col").as("seg"))
      // read by the df census and the join side; one materialization of
      // the segment explode instead of two (r16)
      .transform(Materialize(_))
    val df = segs.select(col("seg"), col(idCol)).distinct()
      .groupBy("seg").agg(count(lit(1)).as("_nd"))
    segs.join(df, Seq("seg"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_seg"),
        sum(when(col("_nd") > 1, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("_nd") <= 1, size(split(col("seg"), " ")).cast("long"))
          .otherwise(0L)).as("kept_tokens"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("_nd") <= 1,
            struct(col("seg_id"), col("seg"))))),
          _.getField("seg")))).as("kept_md5"))
  }

  /**
   * Repeated-span statistics — the corpus-level duplicated-n-gram audit
   * of "Deduplicating Training Data Makes Language Models Better" (Lee
   * et al., 2022), as a per-document data product: every word position
   * contributes its `n`-gram span, a span is DUPLICATED when it occurs
   * in more than one distinct document, and each document reports its
   * span count, duplicated-span count, and duplicated fraction — the
   * signal span-level dedup and repetition quality filters cut on.
   * Documents shorter than `n` words carry no spans and drop out (same
   * rule both engines).
   *
   * Same scale shape as [[segmentDedup]]: per-row span generation in the
   * scan, one (span, doc) distinct + count aggregation, one equi-join
   * back, one per-doc aggregation — never all-pairs, nothing collected.
   */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    require(n >= 2, s"span width must be >= 2, got $n")
    val ws = split(col(textCol), " ")
    val spans = docs.filter(size(ws) >= n)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(ws) - lit(n - 1)),
        s => concat_ws(" ", slice(ws, s, lit(n))))).as("span"))
    // The raw span stream is consumed by ONE aggregation to the
    // (span, doc) level — map-side partials collapse within-doc repeats
    // before the exchange — and everything after runs on that reduced
    // frame: the doc-frequency is a count window over the SAME span
    // partitioning ((span, doc) rows are unique, so rows-per-span IS
    // distinct docs), and the per-doc rollup shuffles reduced rows.
    // The previous formulation joined the doc-frequency back onto the
    // full instance stream — a second corpus-sized shuffle of the span
    // STRINGS that this plan never pays (rewrite measured ~33% faster
    // at sf0.1: 3.33 s in-bench before, 2.23 s isolated after).
    // n_spans is pure arithmetic (positions = len−n+1), not a count of
    // exploded rows.
    val perDocSpan = spans.groupBy(col("span"), col(idCol))
      .agg(count(lit(1)).as("_inst"))
    val byDoc = perDocSpan
      .withColumn("_nd", count(lit(1)).over(Window.partitionBy("span")))
      .groupBy(col(idCol))
      .agg(sum(when(col("_nd") > 1, col("_inst")).otherwise(0L))
        .as("dup_spans"))
    docs.filter(size(ws) >= n)
      .select(col(idCol), (size(ws) - lit(n - 1)).cast("long").as("n_spans"))
      .join(byDoc, Seq(idCol))
      .withColumn("dup_ratio",
        round(col("dup_spans").cast("double") / col("n_spans"), 4))
      .select(col(idCol), col("n_spans"), col("dup_spans"), col("dup_ratio"))
  }

  /** Temperature exponent for [[mixtureResample]] — single source of
    * truth for the Spark plan AND the generated q101 oracle. */
  val MixtureAlpha: Double = 0.5

  /**
   * Temperature-based mixture resampling — the multilingual/multi-source
   * rebalancing rule of the mT5/XLM-R recipe: sampling a stratum with
   * probability ∝ count^α flattens the size distribution (α = 1 keeps
   * it, α = 0 makes it uniform). Deterministically realized per row: a
   * stratum's keep-rate is `(c_min / c)^(1-α)` (the smallest stratum
   * keeps everything), and a document survives iff its 16-bit md5
   * bucket falls under `floor(rate × 65536)` — [[stratifiedSample]]'s
   * arithmetic with the rates DERIVED from the corpus itself. Returns
   * the per-stratum audit: original and kept document counts plus kept
   * tokens.
   *
   * Scale shape: the stratum census is one map-side-combined count whose
   * result is |strata| rows — broadcast back over the corpus — and the
   * keep decision is per-row arithmetic; re-runs, repartitioning, and
   * engine ports reproduce the same sample bit-for-bit.
   */
  def mixtureResample(docs: DataFrame, idCol: String, strataCol: String,
                      textCol: String, alpha: Double = MixtureAlpha): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val counts = docs.groupBy(strataCol).agg(count(lit(1)).as("n_docs"))
    val thr = counts
      .crossJoin(broadcast(counts.agg(min(col("n_docs")).as("_cmin"))))
      .withColumn("_thr",
        floor(pow(col("_cmin").cast("double") / col("n_docs"), 1.0 - alpha)
          * 65536).cast("int"))
    val kept = docs
      .join(broadcast(thr.select(col(strataCol), col("_thr"))), Seq(strataCol))
      .filter(hashBucket16(col(idCol)) < col("_thr"))
      .groupBy(strataCol)
      .agg(count(lit(1)).as("kept_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("kept_tokens"))
    thr.select(col(strataCol), col("n_docs"))
      .join(kept, Seq(strataCol), "left")
      .select(col(strataCol), col("n_docs"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /**
   * Benchmark decontamination screen: corpus documents sharing at least
   * one distinct word `n`-gram with the probe (benchmark) set. The
   * probe shingle set is small by construction — broadcast — so the
   * corpus side never shuffles; output is one row per corpus document,
   * to be anti-joined away or audited.
   */
  def contaminatedDocs(corpus: DataFrame, probes: DataFrame, idCol: String,
                       textCol: String, n: Int): DataFrame = {
    val probeShingles =
      Dedup.shingles(probes, idCol, textCol, n).select("shingle").distinct()
    Dedup.shingles(corpus, idCol, textCol, n)
      .join(broadcast(probeShingles), Seq("shingle"), "left_semi")
      .select(idCol).distinct()
  }

  /**
   * Bloom-gated variant of [[contaminatedDocs]] with the SAME exact
   * answer: a bloom filter over the probe shingles broadcasts to every
   * task and drops non-matching corpus shingles map-side, BEFORE any
   * exchange; only the surviving sliver (true hits + ~fpp false
   * positives) reaches the exact verify join. Bloom filters have no
   * false negatives, so verify-after-prefilter cannot lose a hit — the
   * result is exact, which is why q92 shares q56's oracle.
   *
   * Why it matters at 100 TB: the broadcast in [[contaminatedDocs]] is a
   * string hash TABLE of every probe shingle — fine while the benchmark
   * set is thousands of documents, but a suite of hundreds of benchmarks
   * (or a licensed-text blocklist) pushes it past broadcast limits. The
   * bloom bitset stays ~10 bits per key at fpp=1% regardless of string
   * length, and the verify join's left side shrinks from the full corpus
   * shingle stream to the prefiltered sliver, so AQE plans it as a small
   * shuffle (or broadcast) either way. This is the classic
   * semi-join-reduction pattern Catalyst's runtime bloom filters apply
   * to equi-joins (SCALE.md §3), hand-placed here because the probe side
   * is an arbitrary frame, not a join build side.
   */
  /**
   * Distributed global row number: `(idCol, outCol)` with `outCol` the
   * 1-based rank of each row in the TOTAL order given by `sortCols`
   * (callers must include a unique tiebreaker — usually `idCol` — or
   * ranks of ties are partition-dependent).
   *
   * The naive formulation — `row_number() OVER (ORDER BY …)` with no
   * PARTITION BY — collapses the whole dataset onto ONE reducer, the
   * classic 100 TB cliff. This instead range-partitions on the sort key
   * (each partition holds a contiguous key range, in order), sorts
   * within partitions, and zips a global index over the partition-
   * ordered RDD: `zipWithIndex` assigns contiguous indices partition by
   * partition, which under range partitioning IS the total order. Cost:
   * one range-exchange + one count-per-partition job (zipWithIndex's
   * internal action) — no single-reducer stage anywhere. The sampled
   * range bounds vary run to run but cannot change the result: the
   * order is total, so rank is bound-independent.
   *
   * Only `idCol` + sort keys travel through the RDD hop (row objects,
   * not columnar) — project-then-join keeps wide corpora columnar:
   * callers join the (id, rank) frame back by id.
   */
  def globalRank(df: DataFrame, idCol: String, sortCols: Seq[Column],
                 outCol: String = "rn"): DataFrame = {
    val spark = df.sparkSession
    val narrow = df.select(col(idCol) +: sortCols: _*)
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val ranked = narrow.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.get(0), i + 1L)
    }
    spark.createDataFrame(ranked, new org.apache.spark.sql.types.StructType()
      .add(narrow.schema.head)
      .add(outCol, org.apache.spark.sql.types.LongType, nullable = false))
  }

  /**
   * Equi-depth (equal-count) histogram: `bins` buckets over the exact
   * ntile rule — the first `n % bins` buckets carry `⌈n/bins⌉` rows —
   * computed from [[globalRank]]'s range-exchange + zipWithIndex rank
   * plus arithmetic tile recovery (the q149 path), never an
   * unpartitioned ntile window. Output: `(bin, n, lo, hi)` — bucket
   * boundaries and exact populations, the equi-depth profile a CBO or
   * drift monitor wants where equi-width (q74) starves on skewed
   * values.
   *
   * Unlike [[globalRank]] (project ids, join the rank back), the value
   * IS the only payload here, so the rank carries it directly — no id
   * synthesis, no checkpoint, no join-back exchange; the plan is one
   * range exchange + the zip job + one bin aggregate, and the row
   * count enters the tile arithmetic as a driver-side literal from a
   * stats-cheap count (measured at 60 M rows: 185 s → 24 s over the
   * join-back formulation, exponent 1.40 → 0.96). No tiebreaker at all:
   * zipWithIndex splits equal-value runs arbitrarily, which only swaps
   * identical values across a bin edge — every bin's (n, lo, hi) is
   * invariant.
   */
  def equiDepthHistogram(df: DataFrame, valueCol: Column,
                         bins: Int): DataFrame = {
    val spark = df.sparkSession
    // NULLs are excluded before ranking (r12 advice): Spark's range
    // sort orders them FIRST while DuckDB's ntile oracle orders them
    // LAST, so a null-bearing value column would silently diverge
    // cross-engine — and a histogram bin "populated" by nulls with
    // null lo/hi describes nothing anyway
    val pre = df.select(valueCol.as("_v")).filter(col("_v").isNotNull)
    val total = pre.count()
    val narrow = pre.repartitionByRange(col("_v"))
      .sortWithinPartitions(col("_v"))
    val ranked = narrow.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.get(0), i + 1L)
    }
    val rankedDf = spark.createDataFrame(ranked,
      new org.apache.spark.sql.types.StructType()
        .add(narrow.schema.head)
        .add("rn", org.apache.spark.sql.types.LongType, nullable = false))
    val q = total / bins
    val r = total % bins
    rankedDf
      .select(col("_v"),
        when(col("rn") <= lit(r * (q + 1)), ceil(col("rn") / lit(q + 1)))
          .otherwise(lit(r) + ceil((col("rn") - lit(r * (q + 1))) / lit(q)))
          .cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("_v").as("lo"), max("_v").as("hi"))
      .orderBy("bin")
  }

  def contaminatedDocsBloom(corpus: DataFrame, probes: DataFrame,
                            idCol: String, textCol: String, n: Int,
                            fpp: Double = 0.01): DataFrame = {
    val probeShingles =
      Dedup.shingles(probes, idCol, textCol, n).select("shingle").distinct()
    // Two driver-side actions (count, bloom build) plus the verify join
    // all consume this frame; persist so the shingling+distinct runs once
    // for the actions, then release — pinning it for the lazy verify join
    // would leak storage the caller can never unpersist (cf. Dedup's
    // shingles note), so verify pays one recompute: 3 passes → 2.
    probeShingles.persist()
    // the probe side is small by construction (it is the benchmark set);
    // this count prices the bitset, not the corpus
    val nProbe = math.max(probeShingles.count(), 1L)
    val bf = probeShingles.stat.bloomFilter("shingle", nProbe, fpp)
    probeShingles.unpersist(blocking = false)
    val bc = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((s: String) => s != null && bc.value.mightContainString(s))
    Dedup.shingles(corpus, idCol, textCol, n)
      .filter(mightContain(col("shingle")))
      // exact verify: no broadcast hint — the left side is now tiny, let
      // AQE pick; false positives die here, false negatives can't exist
      .join(probeShingles, Seq("shingle"), "left_semi")
      .select(idCol).distinct()
  }

  /**
   * Deterministic EXACT-k per-group sample — the balanced-subset
   * primitive ([[stratifiedSample]]'s rate twin): within each group,
   * rank rows by `(md5(id), id)` and keep the first k. The hash order
   * is content-keyed, so the sample is reproducible across runs,
   * engines, and partitionings (no seed bookkeeping), groups smaller
   * than k keep everything, and — unlike a rate — the count is exact.
   * One rank window on the group key; state is the running rank.
   */
  def deterministicGroupSample(df: DataFrame, groupCol: String,
                               idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.withColumn("_rk", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /**
   * Snapshot diff — the CDC question between two keyed states: which
   * keys were `added`, `removed`, or `changed` (value differs), with
   * `unchanged` kept for the audit total. One full-outer join on the
   * key — both sides are already latest-wins states (e.g.
   * [[latestWins]]' output at two times), so the frames are key-unique
   * and the join is the whole cost. `valueCol` is a caller expression
   * (a single column, a struct of several) compared null-safely.
   */
  def snapshotDiff(before: DataFrame, after: DataFrame, keyCol: String,
                   valueCol: String): DataFrame = {
    val a = before.select(col(keyCol).as("_k"), col(valueCol).as("_va"))
    val b = after.select(col(keyCol).as("_k"), col(valueCol).as("_vb"))
    a.join(b, Seq("_k"), "full_outer")
      .select(col("_k").as(keyCol),
        when(col("_va").isNull, "added")
          .when(col("_vb").isNull, "removed")
          .when(col("_va") <=> col("_vb"), "unchanged")
          .otherwise("changed").as("status"))
      .orderBy(keyCol)
  }

  /**
   * k-anonymity audit — the governance gate before a dataset release:
   * every quasi-identifier combination carried by fewer than k rows
   * re-identifies its members and must be suppressed or generalized.
   * Returns the violating combinations with their sizes (smallest
   * first — the worst leaks lead). One aggregation on the
   * quasi-identifier tuple; the key space is the combination count,
   * not the row count.
   */
  def kAnonymityViolations(df: DataFrame, quasiCols: Seq[String],
                           k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
      .orderBy(col("group_size") +: quasiCols.map(col): _*)
  }

  /**
   * Column-profile report — per column: row/non-null/distinct counts
   * and min/max (stringified into one uniform schema): the
   * data-quality summary a warehouse publishes next to each table, and
   * the first read before choosing join/salt/bucket strategies.
   *
   * ONE scan for every column: all measures are aggregates of a single
   * `groupBy()`-less aggregation, then the one result row unpivots
   * driver-free through an `explode` of a built array — profiling k
   * columns never rescans. The multiple `countDistinct`s plan as one
   * Expand (input ×(k+1) rows before partial aggregation) — the
   * documented price of exact distincts in one pass; swap to
   * `approx_count_distinct` when profiling wide tables at 100 TB.
   */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val aggs = count(lit(1)).as("_n") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"_nn_$c"),
        countDistinct(col(c)).as(s"_nd_$c"),
        min(col(c)).cast("string").as(s"_mn_$c"),
        max(col(c)).cast("string").as(s"_mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = explode(array(cols.map(c => struct(
      lit(c).as("column"), col("_n").as("n_rows"),
      col(s"_nn_$c").as("n_nonnull"), col(s"_nd_$c").as("n_distinct"),
      col(s"_mn_$c").as("min_val"), col(s"_mx_$c").as("max_val"))): _*))
    one.select(stacked.as("_p")).select("_p.*").orderBy("column")
  }

  /**
   * Data-expectation gate — [[profileColumns]]' enforcing sibling (the
   * Deequ/Great-Expectations shape): named boolean rules evaluated in
   * ONE aggregate scan, each reporting its exact violation count and a
   * pass flag. The CI-gate primitive of a pipeline: assert on
   * `pass`, alert on `n_violations`.
   *
   * Rule semantics: a row violates rule `c` when `c` is FALSE. A NULL
   * predicate does NOT count as a violation — write nullability as its
   * own explicit rule (`col.isNotNull`), so "value in range" and
   * "value present" stay independently reportable, the SQL three-
   * valued convention both engines share.
   *
   * Scale shape: one map-side-combined pass whatever the rule count —
   * adding the 50th rule costs a column, not a scan. Uniqueness rules
   * need a distinct (they cannot fold into this pass); compose a
   * `count(*) − count(DISTINCT key)` aggregate row alongside, as q211
   * does.
   */
  def expectations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "expectations needs at least one rule")
    val aggs = rules.map { case (name, rule) =>
      sum(when(!rule, 1L).otherwise(0L)).as(name)
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = explode(array(rules.map { case (name, _) => struct(
      lit(name).as("rule"), col(name).as("n_violations")) }: _*))
    one.select(stacked.as("_r")).select("_r.*")
      .withColumn("pass", col("n_violations") === 0)
  }

  /**
   * DSIR-style importance weights (Xie et al. 2023, "Data Selection
   * for Language Models via Importance Resampling"): per-document
   * log importance under add-one-smoothed unigram LMs of a TARGET
   * subset vs. the full SOURCE corpus —
   * `log w(d) = Σ_tokens [ln p̂_t(w) − ln p̂_s(w)]` with
   * `p̂(w) = (c(w)+1)/(N+V)` over the shared vocabulary `V` (tokens
   * unseen in the target get the smoothing floor; every source token
   * is in `V` by construction). Returns `(idCol, n_toks,
   * n_target_heavy, log_weight)` where `n_target_heavy` counts the
   * doc's token instances with `p̂_t(w) > p̂_s(w)` — an exact integer
   * cross-multiplication `(c_t+1)(N_s+V) > (c_s+1)(N_t+V)` computed
   * in decimal(38,0) so corpus sizes past the long-product bound
   * cannot wrap (r12 advice precedent), and `log_weight` is rounded
   * once after the per-doc aggregate (q103's rounding site). Feed the
   * weights to [[weightedSample]] (Gumbel-top-k) to complete the DSIR
   * resample.
   *
   * Scale shape: one token explode → ONE vocabulary-sized count
   * aggregate carrying both corpus and target counts (the target
   * count rides the same exchange as a conditional sum — no second
   * instance-sized aggregate, the q103-reshape lesson), a 3-number
   * driver literal for the normalizers (single aggregate row — not a
   * corpus collect), then the instance stream's single lookup join
   * (AQE broadcasts the vocabulary side) and the per-doc aggregate.
   */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame = {
    val toks = docs.select(col(idCol), isTarget.as("_tgt"),
      explode(split(col(textCol), " ")).as("w"))
    val model = toks.groupBy("w").agg(
      count(lit(1)).as("_cs"),
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("_ct"))
    val tot = model.agg(sum("_cs"), sum("_ct"), count(lit(1))).head()
    val (ns, nt, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    require(nt > 0, "dsirWeights: the target subset has no tokens")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val scored = model.select(col("w"),
      log((col("_ct") + 1).cast("double") / (col("_cs") + 1)).as("_lr"),
      when((col("_ct") + 1).cast(dec) * lit(ns + v) >
           (col("_cs") + 1).cast(dec) * lit(nt + v), 1L)
        .otherwise(0L).as("_heavy"))
    val norm = math.log((ns + v).toDouble / (nt + v))
    toks.join(scored, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        sum("_heavy").as("n_target_heavy"),
        // + 0.0 normalizes IEEE −0.0 (a sub-half-ulp negative sum
        // rounds to the signed zero) so both engines emit +0.0
        (round(sum("_lr") + count(lit(1)) * lit(norm), 4) + lit(0.0))
          .as("log_weight"))
  }

  /**
   * Rendezvous (highest-random-weight) shard routing: the key's shard
   * is `argmax_s hash(key, s)` over the shard ids — the consistent-
   * hashing rule whose contract is MINIMAL DISRUPTION: growing the
   * fleet from n to n+1 shards moves exactly the keys the new shard
   * wins (≈ 1/(n+1) of them) and moves them ONLY to the new shard;
   * every other key keeps its assignment (no modulo-style reshuffle of
   * (n−1)/n of the corpus).
   *
   * The weight is the first 13 hex digits of `md5(key ":" s)` (< 2⁵²,
   * the cross-engine 64-bit hash trick) scaled by 1024 with the shard
   * id folded into the low 10 bits — 1024 covers the full nShards
   * range, so weights are DISTINCT by construction for EVERY legal
   * fleet size and the argmax needs no tie rule at all (a 4-bit fold
   * would collide for shard ids 16 apart; 2⁵²·2¹⁰ < 2⁶³ keeps the
   * packed value inside a signed long). Evaluation is one shuffle-free
   * projection per row (`greatest` over n `struct(weight, shard)`
   * columns, the q224 pattern); n is fleet-sized, not data-sized.
   */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    require(nShards >= 1 && nShards <= 1024,
      s"rendezvousShard needs 1 <= nShards <= 1024, got $nShards")
    val packed = (0 until nShards).map { s =>
      val wt = conv(substring(md5(concat(key.cast("string"), lit(":"),
        lit(s.toString))), 1, 13), 16, 10).cast("long") * 1024 + s
      struct(wt.as("w"), lit(s).as("s"))
    }
    val best = if (packed.length == 1) packed.head else greatest(packed: _*)
    best.getField("s")
  }
}
