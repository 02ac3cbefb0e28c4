package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for the LLM-pipeline surface (SURVEY.md §2.2 E,
 * VERDICT r01 items 5–6): exact dedup on hashes, n-gram-Jaccard near-dup
 * pairs via shingle blocking, MinHash-LSH candidate pruning, and SimHash
 * fingerprints.
 *
 * Scale notes (100 TB):
 *  - exact dedup groups on `xxhash64(text)`, never raw text — the shuffle
 *    ships 8-byte keys while the documents stay columnar (the round-1
 *    scale-killer fix). Collision probability for N docs is ~N²/2⁶⁵
 *    (≈10⁻⁹ at a billion docs); use `sha2(text, 256)` when that matters.
 *  - Jaccard blocking shuffles (shingle, doc_id) pairs; candidate-pair
 *    cost is bounded by shingle bucket sizes. At extreme scale add a
 *    document-frequency cap on shingles (drop the top-0.1% most common)
 *    — not done here because the oracle comparison needs exact semantics.
 *  - MinHash-LSH replaces the all-candidate join with a banded signature
 *    join: cost O(docs × bands), recall 1-(1-J^r)^b on true pairs.
 */
object Dedup {

  /** Representative row per distinct text: (min id, copy count), keyed on
    * the 64-bit hash so the exchange never carries document bodies. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("_h")

  /** Distinct word n-gram shingles, one row per (id, shingle). Documents
    * with fewer than n words produce no shingles (same as the oracle). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val words = split(col(textCol), " ")
    docs
      .select(col(idCol), words.as("_ws"))
      .filter(size(col("_ws")) >= n)
      .select(col(idCol), explode(array_distinct(
        transform(sequence(lit(1), size(col("_ws")) - (n - 1)),
          i => concat_ws(" ", slice(col("_ws"), i, lit(n)))))).as("shingle"))
  }

  /**
   * Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
   * SIGMOD'03 — the classic local selection scheme behind MOSS-style
   * plagiarism/near-dup detection): hash every positional word
   * `k`-gram, slide a window of `w` consecutive hashes, and in each
   * FULL window select the minimum hash, ties broken by the RIGHTMOST
   * occurrence. The selected set is a position-stable O(2/(w+1))
   * sample of the gram stream that two documents sharing a long run
   * are guaranteed to sample identically — the guarantee threshold is
   * runs of length ≥ w + k − 1 words.
   *
   * Cross-engine determinism: the gram hash is the 40-bit md5 prefix
   * (`conv(substr(md5(g),1,10),16,10)` — the q228 hex-parse trick),
   * and (hash asc, pos desc) selection packs into ONE comparable long,
   * `hash·2^20 + (2^20−1−pos)` — min of the packed key IS the
   * winnowing rule, and both engines take the min of identical
   * integers (no arg_min-by-struct, which DuckDB lacks). 40+20 bits
   * keeps the pack below 2^62; the 20-bit position field bounds
   * documents at 2^20 grams (~1M words — far past web-document size;
   * a longer doc would need a wider field and a narrower hash).
   *
   * Scale shape: one gram explode + ONE per-document window (the
   * doc-keyed shuffle), then a distinct on the batch-bounded selected
   * rows — map-side combinable, never corpus×corpus.
   *
   * Output: one row per selected fingerprint,
   * `(id, fp, fp_hash, fp_pos)` where `fp` is the packed key and
   * `fp_hash`/`fp_pos` its unpacked halves. Documents with fewer than
   * `k + w − 1` words produce no full window and no rows (same as the
   * oracle).
   */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowing needs k >= 1, w >= 1, got k=$k w=$w")
    val words = split(col(textCol), " ")
    val grams = docs
      .select(col(idCol), words.as("_ws"))
      .filter(size(col("_ws")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("_ws")) - (k - 1)),
          i => concat_ws(" ", slice(col("_ws"), i, lit(k))))))
      .select(col(idCol), col("pos"),
        // loud guard on the 20-bit position field: a doc past 2^20
        // grams would drive (2^20−1−pos) negative and silently corrupt
        // the packed ordering + fp_pos unpacking — raise in the plan
        // instead (zero cost on the common branch)
        (conv(substring(md5(col("col")), 1, 10), 16, 10).cast("long") *
          lit(1048576L) + (lit(1048575L) -
            when(col("pos") < lit(1048576L), col("pos"))
              .otherwise(raise_error(concat(
                lit("winnowing: document "), col(idCol).cast("string"),
                lit(" exceeds the 2^20-gram position bound (pos="),
                col("pos").cast("string"), lit(")")))))).as("_pack"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    grams
      .withColumn("_sel", min(col("_pack")).over(win))
      .filter(col("pos") >= w - 1) // full windows only
      .select(col(idCol), col("_sel").as("fp"))
      .distinct()
      .select(col(idCol), col("fp"),
        // integer div, NOT Column./ (double division drops bits past
        // 2^53 — the pack is 60-bit)
        expr("fp div 1048576").as("fp_hash"),
        (lit(1048575L) - pmod(col("fp"), lit(1048576L))).as("fp_pos"))
  }

  /**
   * Segment-level winnowing fingerprints — [[winnowingFingerprints]]
   * at sub-document granularity, the MOSS report unit (and the q98
   * segment-dedup precedent): documents split into fixed
   * `segWords`-word positional stride segments, each segment winnowed
   * INDEPENDENTLY (its own gram positions, its own full windows), so a
   * copied section inside an otherwise-novel document surfaces as a
   * matched SEGMENT pair — with locality (which segment of which doc)
   * that whole-document selection cannot report. Segments shorter than
   * `k + w − 1` words produce no rows (the whole-doc contract, applied
   * per segment).
   *
   * Fixed-stride caveat (documented, inherent): a copied run is caught
   * when some ≥ `k + w − 1`-word piece of it lands inside ONE segment
   * on BOTH sides; differing alignments chop the run differently, so
   * runs shorter than ~2·(k+w−1) near a boundary can slip. Size
   * `segWords` ≫ k+w−1 (the default entries use 16 vs 6).
   *
   * Scale shape: the segmentation is per-row array arithmetic inside
   * the same projection as the gram explode — the packed sub-document
   * key (`id·segFactor + seg_id`, in-plan guard raises past the
   * bound) reuses the whole-doc operator unchanged, so the cost is
   * one gram explode + ONE window keyed by (doc, segment) — finer
   * keys than the whole-doc window, i.e. better parallelism, same
   * shuffle count.
   *
   * Output: `(idCol, seg_id, fp, fp_hash, fp_pos)`.
   */
  def winnowingSegmentFingerprints(docs: DataFrame, idCol: String,
                                   textCol: String, segWords: Int,
                                   k: Int, w: Int,
                                   segFactor: Long = 100000L): DataFrame = {
    require(segWords >= 1, s"segWords must be >= 1, got $segWords")
    val ws = split(col(textCol), " ")
    val segs = docs
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(ws), lit(segWords)),
        s => concat_ws(" ", slice(ws, s, lit(segWords))))))
      .select((col(idCol) * segFactor +
          when(col("pos") < segFactor, col("pos"))
            .otherwise(raise_error(concat(
              lit("winnowing segments: document "),
              col(idCol).cast("string"),
              lit(s" exceeds the $segFactor-segment key bound")))))
          .as("_sid"),
        col("col").as("_seg"))
    winnowingFingerprints(segs, "_sid", "_seg", k, w)
      .select(expr(s"_sid div $segFactor").as(idCol),
        pmod(col("_sid"), lit(segFactor)).as("seg_id"),
        col("fp"), col("fp_hash"), col("fp_pos"))
  }

  /**
   * Cross-corpus winnowing probe — which probe docs share at least
   * `minShared` selected fingerprint hashes with some indexed doc?
   * The incremental MOSS shape over the at-rest index
   * ([[graft.sources.Layout.Winnow]]): both sides are
   * `(id, fp_hash)` selections; the join blocks on the hash, with the
   * stored side pre-distributed on it (bucketBy — only the probe side
   * shuffles). Output: `(probe_id, match_id, n_shared)`.
   */
  def winnowMatchesAgainst(probeSel: DataFrame, indexSel: DataFrame,
                           idCol: String, minShared: Long): DataFrame =
    probeSel.select(col(idCol).as("probe_id"), col("fp_hash"))
      .join(indexSel.select(col(idCol).as("match_id"), col("fp_hash")),
        "fp_hash")
      .groupBy("probe_id", "match_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /**
   * Exact near-duplicate pairs by word-n-gram Jaccard similarity, found
   * with shingle blocking (only pairs sharing ≥1 shingle are scored —
   * never an all-pairs product). Output: (da, db, jac) with da < db and
   * jac ≥ threshold.
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxShingleDf: Option[Long] = None): DataFrame = {
    // The shingle frame is MATERIALIZED once (eager, at build time — see
    // [[Materialize]]; storage frees on frame GC, unlike cache(), which
    // would pin storage the caller can never unpersist):
    // the plan below references it four times (both join legs + both
    // count attaches), and the r16 optimization round measured the
    // explode subtree executing for each reference — exchange reuse
    // never fired because the legs' exchanges differ post-aliasing. One
    // compute of split+explode over the corpus instead of four.
    val all = Materialize(shingles(docs, idCol, textCol, n))
    // Optional document-frequency cap (SCALE.md §4): stop-shingles carry
    // no discrimination and all of the join skew; dropping them bounds
    // Σ(bucket²). Off by default — the oracle comparison is exact.
    // NOTE: capped runs compute Jaccard over the surviving shingle sets
    // (per-doc counts are taken after the cap, so the ratio stays
    // internally consistent).
    val sh = maxShingleDf match {
      case None => all
      case Some(cap) =>
        // The HOT list (df > cap), not the rare list: under a Zipfian
        // shingle distribution the hot set is tiny by construction (it
        // is exactly the head the cap exists to drop), so it broadcasts,
        // and the cap becomes a map-side anti-join — no shuffle of the
        // full shingle frame against a rare list that is nearly as large
        // as the frame itself. The df aggregation itself is skew-proof:
        // partial aggregation collapses each hot shingle map-side.
        val hot = all.groupBy("shingle").agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap).select("shingle")
        all.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("da"), col("shingle"))
    val b = sh.select(col(idCol).as("db"), col("shingle"))
    val overlap = a.join(b.hint("shuffle_hash"), Seq("shingle"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("overlap"))
    val jac = col("overlap") /
      (col("na") + col("nb") - col("overlap"))
    overlap
      .join(counts.select(col(idCol).as("da"), col("n_sh").as("na")), "da")
      .join(counts.select(col(idCol).as("db"), col("n_sh").as("nb")), "db")
      .filter(jac >= threshold)
      .select(col("da"), col("db"), round(jac, 4).as("jac"))
  }

  /**
   * MinHash signatures over word n-gram shingles: component i is
   * `min(xxhash64(shingle, i))` — one aggregation, no per-permutation
   * passes.
   */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, numHashes: Int): DataFrame =
    signaturesFromShingles(shingles(docs, idCol, textCol, n), idCol, numHashes)

  /**
   * Exact Jaccard pairs via PREFIX FILTERING (the AllPairs/PPJoin
   * candidate rule, Bayardo et al. / Xiao et al. — public algorithm):
   * order every document's shingles by global rarity (document
   * frequency asc, shingle tiebreak), keep only the first
   * `|d| − ⌈t·|d|⌉ + 1` as the document's PREFIX, and generate
   * candidates from prefix-token collisions only. The prefix lemma
   * guarantees two sets with Jaccard ≥ t collide in their prefixes, so
   * — unlike MinHash-LSH — recall 1.0 is a THEOREM, not a tuning
   * outcome, while the join load drops from every shared shingle to
   * only the rare ones (exactly the shingles with small buckets: the
   * hot head that drives q26's skew is never joined on).
   *
   * Output contract identical to [[ngramJaccardPairs]] (same oracle).
   * Scale shape: one df aggregate, one per-doc rank window, a
   * prefix×prefix equi-join on rare shingles, then exact verification
   * restricted to candidate pairs (candidates ⋈ both shingle sets —
   * |cand|-proportional, never all-pairs). The ⌈t·|d|⌉ is computed
   * with an epsilon inside the ceil: binary 0.6·10 = 6.000…001 would
   * otherwise ceil to 7 and silently SHRINK the prefix below the
   * lemma's bound — an unsound direction (too-long prefixes only cost
   * time).
   */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String,
                               textCol: String, n: Int,
                               threshold: Double): DataFrame = {
    // materialized once (the ngramJaccardPairs discipline): referenced by
    // the df aggregate, the rank join, and BOTH verification legs — five
    // executions of the explode subtree without it
    val sh = Materialize(shingles(docs, idCol, textCol, n))
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
    val ranked = sh.join(freq, "shingle")
      .withColumn("_pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("_df"), col("shingle"))))
    val pref = ranked.join(counts, idCol)
      .filter(col("_pos") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select(col(idCol), col("shingle"), col("_pos"), col("n_sh"))
    // Candidate scoring with the PPJoin POSITIONAL filter: per pair,
    // every common token earlier (in the global rarity order) than the
    // LAST prefix collision is itself a prefix collision on both sides
    // (positions are order-ranks), so
    //   overlap ≤ m + min(na − pa_last, nb − pb_last)
    // with m the collision count and (pa,pb)_last = max positions (the
    // last collision maximizes both). Require that bound to reach
    // α = ⌈t/(1+t)·(na+nb)⌉ (the Jaccard-overlap equivalence), plus the
    // symmetric length filter t·na ≤ nb ≤ na/t. Without this, a single
    // incidental deep-prefix collision survives to verification — the
    // measured difference at 10× sf0.1 is 3.0 M candidates → thousands.
    val alpha = ceil(lit(threshold) / (1 + threshold) *
      (col("na") + col("nb")) - lit(1e-9))
    val cand = pref.select(col(idCol).as("da"), col("shingle"),
        col("_pos").as("_pa"), col("n_sh").as("na"))
      .join(pref.select(col(idCol).as("db"), col("shingle"),
        col("_pos").as("_pb"), col("n_sh").as("nb")).hint("shuffle_hash"), Seq("shingle"))
      .filter(col("da") < col("db") &&
        col("nb") >= lit(threshold) * col("na") - lit(1e-9) &&
        col("na") >= lit(threshold) * col("nb") - lit(1e-9))
      .groupBy("da", "db", "na", "nb")
      .agg(count(lit(1)).as("_m"), max("_pa").as("_pa"), max("_pb").as("_pb"))
      .filter(col("_m") + least(col("na") - col("_pa"), col("nb") - col("_pb"))
        >= alpha)
      .select("da", "db")
    val overlap = cand
      .join(sh.select(col(idCol).as("da"), col("shingle")), Seq("da"))
      .join(sh.select(col(idCol).as("db"), col("shingle")), Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("overlap"))
    val jac = col("overlap") / (col("na") + col("nb") - col("overlap"))
    overlap
      .join(counts.select(col(idCol).as("da"), col("n_sh").as("na")), "da")
      .join(counts.select(col(idCol).as("db"), col("n_sh").as("nb")), "db")
      .filter(jac >= threshold)
      .select(col("da"), col("db"), round(jac, 4).as("jac"))
  }

  /**
   * Shingle-skew statistic for the exact-Jaccard strategy choice: the
   * ratio of the blocking join's real candidate load `Σ df·(df−1)/2`
   * to the load a perfectly uniform corpus with the same shingle mass
   * would generate (`s·u·(u−1)/2` with `u = Σdf / s` the mean bucket).
   * 1.0 = uniform; a hot-headed (Zipfian/stop-shingle) corpus scores
   * orders of magnitude higher, because Σdf² is dominated by the head
   * buckets that [[prefixFilterJaccardPairs]] never joins on.
   *
   * Cost: ONE aggregate pass over the shingle frame collapsing to a
   * single row (partial aggregation makes even the hot shingles
   * map-side-cheap) — the `.first()` is a 3-column scalar, bounded at
   * any corpus size.
   */
  def shingleSkewRatio(sh: DataFrame): Double = {
    val r = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * (col("df") - 1) / 2).as("pairs"),
        sum("df").as("mass"),
        count(lit(1)).as("s"))
      .first()
    // an EMPTY shingle frame (tiny corpus, or a sample that caught no
    // docs / only sub-n-word docs) aggregates to (null, null, 0) — the
    // null check must run BEFORE any unboxing or the promised 1.0
    // fallback becomes an NPE
    if (r.isNullAt(0) || r.isNullAt(1) || r.getAs[Number](2).longValue() == 0L)
      return 1.0
    val (pairs, mass, s) =
      (r.getAs[Number](0).doubleValue(), r.getAs[Number](1).doubleValue(),
        r.getAs[Number](2).doubleValue())
    if (s == 0) 1.0
    else {
      val u = mass / s
      val uniformPairs = s * u * (u - 1) / 2
      if (uniformPairs <= 0) 1.0 else pairs / uniformPairs
    }
  }

  /** Skew-ratio threshold above which [[jaccardPairsAuto]] dispatches to
    * the prefix filter. Calibrated from measurement (SCALE.md §12): on
    * the uniform bench corpus the ratio is ~1–3 and the direct join is
    * 1.56× FASTER than PPJoin's extra df-rank pass; a single stop-shingle
    * shared by every document already pushes the ratio ∝ ndocs/u² (tens
    * to thousands), where the direct join degenerates to all-pairs and
    * the prefix filter's head-avoidance wins by construction. The band
    * between is shallow — both paths are within 2× of each other — so
    * one conservative constant suffices.
    */
  val PrefixFilterSkewThreshold: Double = 10.0

  /**
   * Exact Jaccard pairs with COST-BASED strategy choice — the q67/q84
   * selection-rule pattern applied to the direct-vs-PPJoin measurement
   * (round 10: direct 1.56× faster on the uniform corpus, PPJoin the
   * designated winner on hot-head skew): one cheap shingle-DF aggregate
   * computes [[shingleSkewRatio]], and the corpus dispatches to
   * [[ngramJaccardPairs]] (uniform — candidate load is already near its
   * information floor, skip PPJoin's df-rank pass) or
   * [[prefixFilterJaccardPairs]] (hot-headed — never join on the head
   * buckets). Both paths are EXACT with identical output contracts, so
   * the dispatch can never change results, only cost.
   */
  def jaccardPairsAuto(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double): DataFrame = {
    // The statistic reads a DETERMINISTIC 1/8 hash sample of the
    // corpus: the ratio is an order-of-magnitude dispatch signal driven
    // by the head buckets (a boilerplate shingle spanning the corpus
    // spans the sample too, scoring ∝ sample size / u² ≫ threshold),
    // so sampling keeps the signal while cutting the decision pass to
    // ~an eighth of a shingle aggregation — measured +1.4 s → +0.2 s
    // on the q26 entry at sf0.1. An empty sample scores 1.0 → the
    // direct path, the safe default for tiny corpora.
    val sample = docs.filter(pmod(xxhash64(col(idCol)), lit(8)) === 0)
    if (shingleSkewRatio(shingles(sample, idCol, textCol, n))
        >= PrefixFilterSkewThreshold)
      prefixFilterJaccardPairs(docs, idCol, textCol, n, threshold)
    else
      ngramJaccardPairs(docs, idCol, textCol, n, threshold)
  }

  private def signaturesFromShingles(sh: DataFrame, idCol: String,
                                     numHashes: Int): DataFrame =
    sh.groupBy(col(idCol))
      .agg(array((0 until numHashes).map(i =>
        min(xxhash64(col("shingle"), lit(i)))): _*).as("sig"))

  /**
   * LSH candidate pairs: signatures cut into `numHashes / rowsPerBand`
   * bands; docs agreeing on any full band meet in a bucket join. A true
   * pair with Jaccard J survives with p = 1-(1-J^r)^b — with r=2, b=16
   * that is >1-10⁻⁷ at J=0.8.
   */
  def minHashCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, numHashes: Int = 32,
                            rowsPerBand: Int = 2): DataFrame =
    candidatesFromShingles(shingles(docs, idCol, textCol, n), idCol,
      numHashes, rowsPerBand)

  /**
   * Banded MinHash signature frame `(idCol, band, key)` — the
   * persistable MinHash-LSH index, the Jaccard twin of
   * [[simHashBandFrame]]. At rest, write it (together with the shingle
   * frame the exact-Jaccard verification needs) via
   * [[graft.sources.Layout.minHash]] (`bucketBy(key)`): a
   * probe document's band keys become a bucket-pruned lookup instead of
   * re-signing the corpus, and the banded self-join reads both sides
   * already hash-distributed on `key`. The signature model is stateless
   * (component i is `min(xxhash64(shingle, i))` — seed-derived, no fit),
   * so new batches encode against nothing and append rows that can
   * never drift from the stored ones.
   */
  def minHashBandFrame(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, numHashes: Int = 32,
                       rowsPerBand: Int = 2): DataFrame =
    minHashBandFrameFromShingles(shingles(docs, idCol, textCol, n), idCol,
      numHashes, rowsPerBand)

  /** [[minHashBandFrame]] over an ALREADY-BUILT shingle frame — the
    * index-build path: every builder needs both frames (bands to join,
    * shingles to verify), and deriving the bands from the shingle frame
    * the caller is about to persist/save avoids re-shingling the whole
    * corpus a second time. */
  def minHashBandFrameFromShingles(sh: DataFrame, idCol: String,
                                   numHashes: Int = 32,
                                   rowsPerBand: Int = 2): DataFrame =
    bandedFromShingles(sh, idCol, numHashes, rowsPerBand)

  private def bandedFromShingles(sh: DataFrame, idCol: String,
                                 numHashes: Int, rowsPerBand: Int): DataFrame = {
    val bands = numHashes / rowsPerBand
    val sigs = signaturesFromShingles(sh, idCol, numHashes)
    sigs.select(col(idCol), explode(array((0 until bands).map(bnd =>
      struct(lit(bnd).as("band"),
        xxhash64(lit(bnd), slice(col("sig"), bnd * rowsPerBand + 1, rowsPerBand))
          .as("key"))): _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
  }

  /** LSH candidate pairs over an already-built band frame (fresh or read
    * back from the warehouse index table). */
  def minHashCandidatePairsFrom(bandFrame: DataFrame,
                                idCol: String): DataFrame = {
    // No hint here: this entry point also serves STORED band tables,
    // whose bucketBy(key)+sortBy layout feeds the sort-merge join
    // exchange-free and sort-free (hinting it cost q40b +8% and q75b's
    // simhash twin 2.1x in the r17 in-board A/B). The fresh path hints
    // via candidatesFromShingles below.
    bandSelfJoinPairs(bandFrame, idCol, hintShuffleHash = false)
  }

  /** The banded self-join shared by the fresh and stored candidate
    * paths. `hintShuffleHash` skips the sort-merge sorts — right for a
    * FRESH band frame (corpus-band-sized unsorted legs; q40 QBench
    * 3.78 -> 2.81 s), wrong for a bucket-sorted stored table (see
    * [[minHashCandidatePairsFrom]]). */
  private def bandSelfJoinPairs(bandFrame: DataFrame, idCol: String,
                                hintShuffleHash: Boolean): DataFrame = {
    val banded = bandFrame.select(col(idCol), col("band"), col("key"))
    val right = if (hintShuffleHash) banded.as("y").hint("shuffle_hash")
                else banded.as("y")
    banded.as("x").join(right, Seq("band", "key"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("da"), col(s"y.$idCol").as("db"))
      .distinct()
  }

  private def candidatesFromShingles(sh: DataFrame, idCol: String,
                                     numHashes: Int, rowsPerBand: Int): DataFrame =
    bandSelfJoinPairs(
      bandedFromShingles(sh, idCol, numHashes, rowsPerBand), idCol,
      hintShuffleHash = true)

  /** Exact-Jaccard verification of candidate pairs `(da, db)` against
    * per-side shingle frames — the shared tail of every candidate
    * generator (LSH bands, prefix filter, cross-corpus probe): overlap
    * is computed ONLY for candidates (candidate ⋈ shingles, grouped per
    * pair — |cand|-proportional, never all-pairs), set sizes join in
    * from per-side aggregates, survivors carry `jac ≥ threshold`. */
  private def verifiedJaccardPairs(cand: DataFrame, shA: DataFrame,
                                   shB: DataFrame, idCol: String,
                                   threshold: Double): DataFrame = {
    val overlap = cand
      .join(shA.select(col(idCol).as("da"), col("shingle")), Seq("da"))
      .join(shB.select(col(idCol).as("db"), col("shingle")), Seq("db", "shingle"))
      .groupBy("da", "db").agg(count(lit(1)).as("overlap"))
    val jac = col("overlap") / (col("na") + col("nb") - col("overlap"))
    overlap
      .join(shA.groupBy(col(idCol)).agg(count(lit(1)).as("na"))
        .select(col(idCol).as("da"), col("na")), "da")
      .join(shB.groupBy(col(idCol)).agg(count(lit(1)).as("nb"))
        .select(col(idCol).as("db"), col("nb")), "db")
      .filter(jac >= threshold)
      .select(col("da"), col("db"), round(jac, 4).as("jac"))
  }

  /**
   * Fuzzy-dedup pairs over an already-built MinHash index — the stored
   * half of [[minHashDedupPairs]]: `bandFrame` and `shingleFrame` come
   * back from [[graft.sources.Layout.minHash]]'s two tables
   * (or are fresh frames — the result is identical either way, which is
   * what the WarehouseSpec equality proves). The banded self-join reads
   * a `bucketBy(key)` table pre-distributed on its join key; the exact
   * verification joins the candidate pairs against the stored shingles.
   */
  def minHashDedupPairsFrom(bandFrame: DataFrame, shingleFrame: DataFrame,
                            idCol: String,
                            threshold: Double = 0.6): DataFrame =
    verifiedJaccardPairs(minHashCandidatePairsFrom(bandFrame, idCol),
      shingleFrame, shingleFrame, idCol, threshold)

  /**
   * Cross-corpus MinHash probe — the INCREMENTAL fuzzy-dedup primitive,
   * [[simHashMatchesAgainst]]'s Jaccard twin: which ids in `probeBands`
   * have exact Jaccard ≥ `threshold` with ANY id in the stored index?
   * Candidates come from the banded probe⋈index join (no `da < db`
   * guard — the sides are different corpora), verification joins each
   * side's own shingle frame. Output: one row per matched probe id,
   * distinct.
   *
   * Scale shape: with the index stored `bucketBy(key)` the band join
   * reads only the probe batch's buckets and the probe side broadcasts
   * under AQE; the verify join touches only candidate ids' shingles
   * (id-bucketed at rest). Cost ∝ batch, not corpus.
   */
  def minHashMatchesAgainst(probeBands: DataFrame, probeShingles: DataFrame,
                            indexBands: DataFrame, indexShingles: DataFrame,
                            idCol: String,
                            threshold: Double = 0.6): DataFrame = {
    // Materialized (eager): the candidate frame
    // feeds BOTH the shingle restriction below and the verify join —
    // lazy, the banded probe⋈index join would execute twice per
    // admission (the rejectedIds technique, applied one level down).
    val cand = probeBands.select(col(idCol).as("da"), col("band"), col("key"))
      .join(indexBands.select(col(idCol).as("db"), col("band"), col("key")),
        Seq("band", "key"))
      .select("da", "db").distinct()
      .transform(Materialize(_))
    // Restrict the index shingles to CANDIDATE ids before verification:
    // without this, the per-doc set-size aggregate inside the verify
    // groups the ENTIRE corpus shingle table per admission (measured:
    // the third-decade minhash_admit exponent was 0.78 from exactly
    // this shuffle). The candidate id list is batch-bounded, so AQE
    // broadcasts it and the corpus table crosses the semi-join map-side
    // — the only remaining corpus-proportional cost is the columnar
    // scan itself. The self-join dedup path ([[minHashDedupPairsFrom]])
    // deliberately does NOT do this: there nearly every doc is a
    // candidate and the semi-join would only add a pass.
    val candIndexSh = indexShingles.join(
      cand.select(col("db").as(idCol)).distinct(), Seq(idCol), "left_semi")
    verifiedJaccardPairs(cand, probeShingles, candIndexSh, idCol, threshold)
      .select(col("da").as(idCol)).distinct()
  }

  /**
   * Fuzzy-dedup pairs with MinHash-LSH pruning plus exact Jaccard
   * verification of the candidates — same output contract as
   * [[ngramJaccardPairs]] whenever LSH recall holds.
   *
   * The exact Jaccard is computed ONLY for candidate pairs (candidate ⋈
   * per-doc shingles, grouped per pair) — cost scales with |candidates|,
   * not with the full shingle-blocked pair count; that is the entire
   * point of the LSH pass at 100 TB.
   */
  def minHashDedupPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.6,
                        numHashes: Int = 32, rowsPerBand: Int = 2): DataFrame = {
    // one shingle frame feeds signatures, counts, AND overlap — the
    // candidate path must not re-shingle the corpus per branch
    val sh = shingles(docs, idCol, textCol, n)
    verifiedJaccardPairs(
      candidatesFromShingles(sh, idCol, numHashes, rowsPerBand),
      sh, sh, idCol, threshold)
  }

  /**
   * Cluster near-duplicate PAIRS into connected components — the step a
   * real dedup pipeline needs after pair generation: pairs (a,b),(b,c)
   * must collapse to ONE surviving document, not two independent
   * removals. Returns (node, lbl) where lbl = min doc id reachable
   * through the pair graph (the cluster's canonical representative).
   *
   * Algorithm: iterative min-label propagation — each hop every node
   * takes the min of its own label and its neighbors' labels; converges
   * in ≤ diameter hops (near-dup clusters are shallow: pairs at
   * threshold J form cliques-ish components, diameter 2–4). Each
   * materialized round applies one hop and runs one label-sum
   * aggregation as its convergence check (labels are monotone
   * non-increasing over a fixed node set, so an unchanged sum IS the
   * fixpoint) — cheaper than re-joining against the previous labels to
   * diff them, since the sum runs over the frame the round materializes
   * anyway. Results are persisted
   * per round, and every 4th round is eagerly materialized to
   * truncate lineage (the per-round plan otherwise doubles — see the
   * in-loop note); [[dedupClustersStar]] is the same fixpoint computed
   * in O(log) alternations when components stop being shallow (here,
   * hop count grows with diameter, and past a few dozen rounds the
   * O(rounds) driver barrier dominates).
   *
   * Failing to converge within `maxIter` throws (a silently split
   * component is a wrong answer, not a degraded one); raise `maxIter`
   * for graphs whose diameter can exceed it. The returned frame is NOT
   * left persisted — the loop's caches are dropped once the fixpoint is
   * confirmed, so downstream actions re-evaluate a (bounded-depth)
   * deterministic plan and no storage leaks into the caller's session.
   */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String,
                    maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
      .unionAll(pairs.select(col(bCol).as("x"), col(aCol).as("y")))
      .persist()
    var labels = edges.groupBy(col("x").as("node"))
      .agg(min("y").as("_nmin"))
      .select(col("node"), least(col("node"), col("_nmin")).as("lbl"))
      .persist()
    // one min-propagation hop: next(x) = min(lbl(x), min over neighbors)
    def hop(l: DataFrame): DataFrame =
      edges.join(l, edges("y") === l("node"))
        .select(edges("x").as("node"), col("lbl"))
        .unionAll(l)
        .groupBy("node").agg(min("lbl").as("lbl"))
    // Convergence by label-sum: propagation is monotone non-increasing
    // per node over a fixed node set, so the sum strictly decreases
    // until — and only until — the fixpoint. Comparing sums costs one
    // aggregation over the frame the round materializes ANYWAY, where
    // the previous shape (join vs old labels + isEmpty) scheduled an
    // extra join per round. One hop per materialized round: a
    // double-hop variant was measured SLOWER here (deeper per-round
    // plans with multiply-referenced caches beat the saved driver
    // round-trips only for much larger graphs).
    // decimal accumulator: a long sum could wrap at ~10⁹ nodes × 10⁹
    // ids, and a wrapped equality would break the monotonicity argument
    def lblSum(l: DataFrame): Any =
      l.agg(sum(col("lbl").cast("decimal(38,0)"))).first().get(0)
    // the up-front sum doubles as the action that MATERIALIZES the
    // labels cache — without it, round 1's plan (which references
    // labels twice) races its own cache population and computes the
    // initial aggregation repeatedly
    var prevSum = lblSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      // Lineage truncation every 4th round: hop() references the previous
      // labels frame TWICE (join + union), so the bare logical plan
      // DOUBLES per round — caching stores the DATA but not a shorter
      // plan, and beyond ~8 rounds the plan description built per action
      // for the execution listener alone OOMs the driver (deep-path spec
      // reproduces at diameter 11). Materializing resets the
      // plan to its materialized rows; every-4 keeps the common
      // clique-ish components (diameter 2-4, never reach a checkpoint)
      // on the pure-cache path. EAGER deliberately (r17 A/B): a lazy
      // checkpoint whose blocks the lblSum probe populates would
      // save one job per checkpoint round, but measured consistently
      // SLOWER — q67 QBench sf0.1 3.15 -> 3.53 s, ScaleBench 10x
      // q67_cluster_only 1.83/1.90 -> 2.19/2.23 s — so the fused
      // compute+probe job costs more than the saved block-read action
      // at both scales; reverted per the checkpoint-pays rule.
      val next =
        if (iter % 4 == 0) Materialize(hop(labels))
        else hop(labels).persist()
      val s = lblSum(next)
      converged = s == prevSum
      prevSum = s
      labels.unpersist()
      labels = next
    }
    edges.unpersist()
    if (!converged) {
      labels.unpersist()
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxIter rounds — the pair " +
          "graph has a component of diameter > maxIter; raise maxIter")
    }
    // Hand back the fixpoint materialized, then drop the loop's caches:
    // without it every consumer would re-run the ENTIRE pair pipeline +
    // propagation from bare lineage — at sf0.1 that doubled the
    // operator's cost.
    val out = Materialize(labels)
    labels.unpersist()
    out
  }

  /**
   * Deep-graph scale path for pair clustering: large-star / small-star
   * alternation (the public two-phase MapReduce connected-components
   * algorithm of Kiveris et al., "Connected Components in MapReduce and
   * Beyond", SoCC 2014). Identical contract and fixpoint as
   * [[dedupClusters]] — (node, lbl) with lbl = min id reachable through
   * the pair graph — but the round count is O(log²) in component SIZE
   * and independent of diameter, where propagation needs O(diameter)
   * driver rounds: a diameter-1000 chain of borderline pairs closes
   * here in a handful of alternations. Near-dup components are
   * normally clique-ish (diameter 2–4), where propagation wins on
   * per-round constants — keep it as the default and reach for this
   * when pair graphs grow deep (the propagation loop's maxIter throw
   * is the signal).
   *
   * One alternation = two grouped aggregations over the edge frame,
   * each shuffling (long, long) pairs only:
   *  - large-star: every node points its LARGER neighbors at
   *    m = min(N(u) ∪ {u}) — large ids hook directly onto component
   *    minima, halving tree heights without ever minting new ids;
   *  - small-star: edges orient toward their smaller endpoint, then
   *    every node points its smaller neighborhood and itself at its
   *    minimum — partial trees flatten into stars.
   * The fixpoint is exactly the star graphs (member → component min),
   * which both steps map to themselves. Convergence is detected by an
   * order-independent multiset signature of the edge frame (count +
   * Σu + Σv + Σxxhash64(u,v), decimal accumulators for the same
   * wrap-safety reason as [[dedupClusters]]): the steps are
   * deterministic functions of the edge SET, so an unchanged signature
   * is a fixpoint forever after (hash-collision odds ~2⁻⁶⁴ per round).
   * Like propagation, failure to converge within `maxIter` throws —
   * a silently split component is a wrong answer.
   */
  def dedupClustersStar(pairs: DataFrame, aCol: String, bCol: String,
                        maxIter: Int = 25): DataFrame =
    dedupClustersStarImpl(pairs, aCol, bCol, maxIter)._1

  /**
   * Incremental CC maintenance — merge a DELTA of new pairs into a
   * stored label table `(node, lbl)` without re-clustering the corpus
   * (the at-rest posture for a standing dedup-cluster table: daily
   * pair batches arrive, the closure table is maintained, never
   * rebuilt). Correctness rests on locality of the fixpoint: a new
   * edge can only change components CONTAINING one of its endpoints,
   * so
   *  1. touched = stored labels reachable from any delta endpoint
   *     (an unknown endpoint is its own 1-node component);
   *  2. the AFFECTED subgraph = those components' members collapsed
   *     to their stars (node → lbl edges carry exactly the stored
   *     connectivity) ∪ the delta pairs;
   *  3. [[dedupClustersStar]] re-solves ONLY that subgraph;
   *  4. untouched rows pass through by anti-join.
   * Labels are component minima on both paths, so the merged table is
   * EXACTLY what a full re-cluster over (old pairs ∪ delta) produces —
   * the q220 oracle checks that equality cross-engine.
   *
   * Scale shape: two equi-joins to find the affected rows, then a CC
   * run ∝ affected-component size + delta — never corpus-sized unless
   * the delta genuinely touches everything. The same blast-radius
   * law the rollup family's blind appends obey, for the one operator
   * family whose "aggregate" is a fixpoint.
   */
  def dedupClustersAugment(stored: DataFrame, newPairs: DataFrame,
                           aCol: String, bCol: String,
                           maxIter: Int = 25): DataFrame = {
    val ends = newPairs.select(col(aCol).as("node"))
      .union(newPairs.select(col(bCol).as("node"))).distinct()
    val touched = stored.join(ends, Seq("node")).select("lbl").distinct()
    val affected = stored.join(touched, Seq("lbl"))
    val starEdges = affected.filter(col("node") =!= col("lbl"))
      .select(col("node").as("_da"), col("lbl").as("_db"))
    // Materialize severs the subgraph from the stored table's plan
    // before the iterative solver (whose loop re-resolves its input each
    // alternation — attribute lineage into a prior CC run's output does
    // not survive that)
    val subPairs = newPairs.select(col(aCol).as("_da"), col(bCol).as("_db"))
      .union(starEdges)
      .transform(Materialize(_))
    val relabeled = dedupClustersStar(subPairs, "_da", "_db", maxIter)
    stored.join(touched, Seq("lbl"), "left_anti")
      .select("node", "lbl")
      .unionByName(relabeled.select(col("node"), col("lbl")))
  }

  /** [[dedupClustersStar]] plus the alternation count it converged in —
    * the O(log) claim is spec-asserted against this, not eyeballed. */
  private[graft] def dedupClustersStarImpl(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): (DataFrame, Int) = {
    // eager checkpoint up front: every alternation until the next
    // truncation would otherwise re-reference the caller's full pair
    // plan (for q84 that is the whole shingle-join pipeline) 6–8×
    var edges = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(Materialize(_))

    // large-star: per node u over the symmetric neighborhood,
    // m = min(N(u) ∪ {u}); emit (v, m) for the strictly-larger
    // neighbors. v > u ≥ m, so no self-loops can be emitted.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("_nm"))
        .select(col("u"), least(col("u"), col("_nm")).as("_m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("_m").as("v"))
        .distinct()
    }

    // small-star: orient each edge toward its smaller endpoint, then
    // per node u over the (all-smaller) neighborhood, m = min; emit
    // (w, m) for w ∈ N(u) ∪ {u}, w ≠ m.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min("v").as("_m"))
      oriented.join(mins, "u")
        .select(col("v").as("u"), col("_m").as("v"))
        .unionAll(mins.select(col("u"), col("_m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def sig(e: DataFrame): Seq[Any] = e.agg(
      count(lit(1)),
      sum(col("u").cast("decimal(38,0)")),
      sum(col("v").cast("decimal(38,0)")),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))
    ).first().toSeq

    var prev = sig(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      iter += 1
      // lineage truncation EVERY round, not dedupClusters' every-4th:
      // one alternation references the previous frame three times (the
      // symmetrize union twice + the min join), so the bare plan grows
      // ~8× per round — two uncheckpointed rounds already put the
      // AQE plan-change log's explainString past driver heap (measured:
      // the every-4th regime OOM'd in PlanStringConcat before round 4).
      // EAGER deliberately (r17 A/B): lazy checkpoint + single-reference
      // sig() folds the round into one job, but measured no better —
      // q84 QBench sf0.1 3.00 -> 3.26/3.30 s, q220 4.22 -> 4.54/4.83 s,
      // ScaleBench 10x q84_star_only a wash (2.63/2.23 eager vs
      // 2.20/2.46 lazy) — the saved block-read action is cheaper than
      // whatever the fused compute+probe job costs; reverted per the
      // checkpoint-pays rule.
      val next = Materialize(smallStar(largeStar(edges)))
      val s = sig(next)
      converged = s == prev
      prev = s
      edges.unpersist()
      edges = next
    }
    if (!converged) {
      edges.unpersist()
      throw new IllegalStateException(
        s"dedupClustersStar did not converge in $maxIter alternations — " +
          "pathological edge set; raise maxIter")
    }
    // at fixpoint the edges ARE the star: members only on the u side,
    // roots only on the v side — the union below is disjoint and total
    val labels = edges
      .select(col("u").as("node"), col("v").as("lbl"))
      .unionAll(edges.select(col("v"), col("v")).distinct()
        .toDF("node", "lbl"))
    val out = Materialize(labels)
    edges.unpersist()
    (out, iter)
  }

  /**
   * Embedding-cosine near-duplicate pairs: LSH-bucketed self-join (only
   * rows colliding in some hash table are scored) with exact cosine
   * verification at `threshold`. Output (da, db, sim), da < db. Recall
   * follows the sign-LSH collision bound, which is near-1 for the
   * near-identical vectors this targets (θ≈0 ⇒ per-bit agreement ≈ 1).
   */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
                            threshold: Double, tables: Int = 8, bits: Int = 8,
                            dim: Int = 64, seed: Long = 42L): DataFrame = {
    val keys = Similarity.lshKeysArray(tables, bits, dim, seed)(col(embCol))
    def bucketed(out: String): DataFrame =
      emb.select(col(idCol).as(out), col(embCol).as(s"_e_$out"),
        posexplode(keys).as(Seq("table", "key")))
    // threshold applies to the UNROUNDED cosine (the oracle filters raw
    // too — filtering after round() would admit boundary pairs like
    // 0.89996→0.9000 that the oracle rejects); dedup on the raw value,
    // which is deterministic per pair, then round for output only.
    bucketed("da").join(bucketed("db"), Seq("table", "key"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        Similarity.cosine(col("_e_da"), col("_e_db")).as("_sim"))
      .distinct()
      .filter(col("_sim") >= threshold)
      .select(col("da"), col("db"), round(col("_sim"), 4).as("sim"))
  }

  /**
   * Semantic dedup applied end-to-end (the SemDeDup shape: drop
   * everything that says the same thing, keep one copy): embedding
   * near-dup pairs ([[embeddingNearDupPairs]], LSH-blocked exact-cosine)
   * → connected components ([[dedupClustersStar]], the
   * diameter-independent alternation — semantic clusters chain, A≈B≈C
   * with A̸≈C, so closure is the right semantics, same as text dedup) →
   * keep each cluster's min-id representative; rows with no near-dup
   * pass through untouched. Returns the surviving corpus with its
   * original schema.
   *
   * Scale shape: pairs and clustering are the measured-linear q45/q84
   * paths; the final filter is one left-anti hash join on the id — the
   * drop list is tiny relative to the corpus (it is the dup mass), so
   * AQE broadcasts it in practice.
   */
  def semanticDedup(emb: DataFrame, idCol: String, embCol: String,
                    threshold: Double, tables: Int = 8, bits: Int = 8,
                    dim: Int = 64, seed: Long = 42L): DataFrame = {
    val pairs = embeddingNearDupPairs(emb, idCol, embCol, threshold,
      tables, bits, dim, seed)
    val drops = dedupClustersStar(pairs, "da", "db")
      .filter(col("node") =!= col("lbl"))
      .select(col("node").as(idCol))
    emb.join(drops, Seq(idCol), "left_anti")
  }

  /**
   * Corpus-scale SimHash: explode tokens once and take the 64 bit-votes
   * as flat aggregate expressions per document — identical fingerprints
   * to [[simHash64]] (tested), but whole-stage-codegen'd sums instead of
   * per-token array allocations, which benches ~2-3× faster on document
   * corpora. Output: (idCol, sh). Token-less documents are absent from
   * the output (explode drops them); the per-row [[simHash64]] gives
   * them fp=0 — left-join + coalesce(sh, 0) if they matter.
   */
  def simHash64Agg(docs: DataFrame, idCol: String, tokens: Column): DataFrame = {
    val h = xxhash64(col("_tok"))
    val votes = (0 until 64).map(b =>
      sum(when(h.bitwiseAND(lit(1L << b)) =!= 0L, 1).otherwise(-1)).as(s"_v$b"))
    val fp = (0 until 64).map(b =>
      when(col(s"_v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((x, y) => x.bitwiseOR(y))
    docs.select(col(idCol), explode(tokens).as("_tok"))
      .groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), fp.as("sh"))
  }

  /**
   * Oracle-checkable SimHash variant: the 64-bit token hash is the FIRST
   * 16 hex chars of `md5(token)` (big-endian), so bit b lives in bit
   * (b%4) of hex digit 16-(b/4); the fingerprint is emitted as a 16-char
   * lowercase hex STRING assembled nibble-by-nibble — every piece
   * (md5, substring, hex-digit decode, bitwise AND) exists in DuckDB
   * too, so fingerprints hash-match end-to-end (q42). Same explode +
   * flat bit-vote aggregate shape as [[simHash64Agg]]; keep the
   * xxhash64 version for speed when no cross-engine oracle is needed.
   * ExtQueries.simHashHexSql generates the DuckDB twin with the same
   * index math.
   */
  /** SimHash bit b (0 = LSB) lives in bit `mask` of the 1-based md5 hex
    * digit `digitPos` — the SINGLE source of the index math consumed by
    * both [[simHashHexAgg]] and ExtQueries' generated DuckDB oracle, so
    * the two engines cannot drift structurally. */
  val SimHashBitDigit: IndexedSeq[(Int, Int)] =
    (0 until 64).map(b => (16 - b / 4, 1 << (b % 4)))

  /** For output hex digit position p (1 = most significant), the four
    * vote indices it assembles; index j carries weight 2^j. */
  val SimHashDigitBits: IndexedSeq[IndexedSeq[Int]] =
    (1 to 16).map(p => (0 until 4).map(j => (16 - p) * 4 + j))

  def simHashHexAgg(docs: DataFrame, idCol: String, tokens: Column): DataFrame = {
    // project each md5 hex digit to an int ONCE per token ("_n1".."_n16");
    // the 64 vote aggregates then read 4 bits per nibble instead of
    // re-deriving conv(substring(...)) per bit (4× fewer string ops in
    // the hot aggregate input)
    val nibbles = (1 to 16).map(q =>
      conv(substring(col("_h"), q, 1), 16, 10).cast("int").as(s"_n$q"))
    val votes = SimHashBitDigit.zipWithIndex.map { case ((digitPos, mask), b) =>
      sum(when(col(s"_n$digitPos").bitwiseAND(lit(mask)) =!= 0, 1)
        .otherwise(-1)).as(s"_v$b")
    }
    val digits = SimHashDigitBits.map { bits =>
      val v = bits.zipWithIndex.map { case (b, j) =>
        when(col(s"_v$b") > 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)
      lit("0123456789abcdef").substr(v + 1, lit(1))
    }
    docs.select(col(idCol), explode(tokens).as("_tok"))
      .select(col(idCol), md5(col("_tok")).as("_h"))
      .select(col(idCol) +: nibbles: _*)
      .groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), concat(digits: _*).as("sh"))
  }

  /** Number of 16-bit bands a 64-bit SimHash splits into for the banded
    * near-dup join — shared by [[simHashNearDupPairs]] and the generated
    * q75 oracle. */
  val SimHashBands: Int = 4

  /**
   * SimHash near-duplicate pairs via a banded bucket join — the hamming
   * "index" that makes SimHash usable at corpus scale: fingerprints are
   * cut into [[SimHashBands]] 16-bit bands, only pairs agreeing on at
   * least one band ever meet (bucket join on (band, key), never an
   * all-pairs product), and the exact hamming distance of the
   * candidates is then verified ≤ `maxHamming`.
   *
   * Exactness: by pigeonhole a pair at hamming < [[SimHashBands]]
   * ALWAYS shares an intact band, so for `maxHamming < SimHashBands`
   * the banded result IS the exhaustive result. For larger thresholds
   * the ≥1-shared-band condition is part of the operator's contract
   * (the q75 oracle applies the same condition), matching how a
   * production SimHash index trades recall for never scanning pairs.
   *
   * Uses the md5-derived hex fingerprints ([[simHashHexAgg]]) so the
   * whole pipeline is oracle-checkable end-to-end. The distinct runs on
   * (long, long, long) scalars — fingerprint strings never ride the
   * pair exchange.
   */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, tokens: Column,
                          maxHamming: Int = 16): DataFrame =
    simHashNearDupPairsFrom(simHashBandFrame(docs, idCol, tokens), idCol,
      maxHamming)

  /** 16-bit band `i` of a hex SimHash fingerprint as a long. */
  private def bandOf(sh: Column, i: Int): Column =
    conv(substring(sh, 1 + 4 * i, 4), 16, 10).cast("long")

  /**
   * Banded fingerprint frame `(idCol, sh, band, key)` — the persistable
   * SimHash index. At rest, write it via
   * [[graft.sources.Layout.SimHash]] (`bucketBy(key)`): a
   * probe's band keys become a bucket-pruned lookup instead of
   * re-fingerprinting the corpus, and the banded self-join reads both
   * sides co-partitioned on `key` — no exchange (at 100 TB you index
   * once and probe forever; recomputing fingerprints per query was the
   * round-6 verdict's gap #3).
   */
  def simHashBandFrame(docs: DataFrame, idCol: String,
                       tokens: Column): DataFrame =
    simHashHexAgg(docs, idCol, tokens)
      .select(col(idCol), col("sh"),
        posexplode(array((0 until SimHashBands).map(i =>
          bandOf(col("sh"), i)): _*)).as(Seq("band", "key")))

  /** The pair side of [[simHashNearDupPairs]] over an already-built
    * band frame (fresh, persisted, or read back from the warehouse
    * index table). */
  def simHashNearDupPairsFrom(bandFrame: DataFrame, idCol: String,
                              maxHamming: Int = 16): DataFrame = {
    def side(out: String): DataFrame =
      bandFrame.select(col(idCol).as(out), col("sh").as(s"_sh_$out"),
        col("band"), col("key"))
    val hamming = (0 until SimHashBands).map(i =>
      call_function("bit_count",
        bandOf(col("_sh_da"), i).bitwiseXOR(bandOf(col("_sh_db"), i))))
      .reduce(_ + _).cast("long")
    // Deliberately NO shuffle-hash hint (r17 in-board A/B): the fresh
    // path gained only ~5% (q75 3.35 -> 3.17 s), while the STORED path
    // pays 2.1x (q75b 0.68 -> 1.43 s) — the bucketBy(key)+sortBy table
    // feeds this join exchange-free AND sort-free, and a hash join
    // throws that sorted-merge away to build per-partition hash maps.
    side("da").join(side("db"), Seq("band", "key"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Cross-corpus SimHash probe — the INCREMENTAL dedup primitive: which
   * ids in `probeBands` sit within `maxHamming` of ANY id in
   * `indexBands`? Same band-bucketed join + exact hamming verify as
   * [[simHashNearDupPairsFrom]], but across two frames and without the
   * `da < db` self-join guard (the sides are different corpora), so a
   * new batch checks against an at-rest index without ever re-pairing
   * the indexed corpus. Output: one row per matched probe id
   * (`idCol`), distinct.
   *
   * Scale shape: with the index stored `bucketBy(key)`
   * ([[graft.sources.Layout.SimHash]]) the join reads only
   * the probe batch's buckets and arrives pre-distributed on the join
   * key — the probe side is the small side and broadcasts under AQE.
   * Cost ∝ batch, not corpus (the same property BENCH_SCALED measured
   * flat for the IVF/PQ appends).
   */
  def simHashMatchesAgainst(probeBands: DataFrame, indexBands: DataFrame,
                            idCol: String,
                            maxHamming: Int = 16): DataFrame = {
    val p = probeBands.select(col(idCol), col("sh").as("_sh_p"),
      col("band"), col("key"))
    val ix = indexBands.select(col("sh").as("_sh_i"),
      col("band"), col("key"))
    val hamming = (0 until SimHashBands).map(i =>
      call_function("bit_count",
        bandOf(col("_sh_p"), i).bitwiseXOR(bandOf(col("_sh_i"), i))))
      .reduce(_ + _).cast("long")
    p.join(ix, Seq("band", "key"))
      .filter(hamming <= maxHamming)
      .select(col(idCol))
      .distinct()
  }

  /**
   * Blocked edit-distance near-dup pairs: within each equality block
   * (`blockCols`), every `a_id < b_id` pair whose comparison keys are
   * within `maxDist` Levenshtein edits — the classic entity-resolution
   * join, usable where shingle-set similarity is blind (short keys,
   * transposition-heavy noise, fixed-width codes).
   *
   * Scale shape: the only join is an equi-join on the block columns —
   * hash-partitioned, never all-pairs across blocks. Per-block cost is
   * quadratic, so blocks are the skew unit: `maxBlock` drops blocks
   * with more than that many rows via a broadcast anti-join (the same
   * hot-key cap as [[ngramJaccardPairs]]'s shingle DF cap — at corpus
   * scale a block that big is boilerplate, not a dup cluster, and its
   * pairs are noise). `levenshtein` is codegen'd on both engines'
   * standard unit-cost dynamic program, so the oracle can recompute
   * distances exactly; keep the keys short (a prefix) — the DP is
   * O(|a|·|b|) per pair.
   */
  def editDistancePairs(docs: DataFrame, idCol: String, keyCol: Column,
                        blockCols: Seq[Column], maxDist: Int,
                        maxBlock: Option[Long] = None): DataFrame = {
    val bNames = blockCols.indices.map(i => s"_b$i")
    val base = docs.select(
      col(idCol) +: keyCol.as("_key") +:
        blockCols.zip(bNames).map { case (c, n) => c.as(n) }: _*)
    val blocked = maxBlock match {
      case Some(cap) =>
        val hot = base.groupBy(bNames.map(col): _*)
          .agg(count(lit(1)).as("_n")).filter(col("_n") > cap)
          .select(bNames.map(col): _*)
        base.join(broadcast(hot), bNames, "left_anti")
      case None => base
    }
    // both self-join legs read the blocked frame; one materialization
    val bl = Materialize(blocked)
    val a = bl.select(col(idCol).as("a_id") +: col("_key").as("_ka") +:
      bNames.map(col): _*)
    val b = bl.select(col(idCol).as("b_id") +: col("_key").as("_kb") +:
      bNames.map(col): _*)
    a.join(b, bNames)
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist", levenshtein(col("_ka"), col("_kb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("a_id", "b_id", "dist")
  }

  /**
   * Blocked Jaro-Winkler near-dup pairs — [[editDistancePairs]] with
   * the record-linkage metric instead of edit distance: within each
   * equality block, every `a_id < b_id` pair whose comparison keys
   * score at least `minSim` under [[TextAnalysis.jaroWinkler]] (the
   * native byte-parity expression). JW weights shared prefixes and
   * tolerates transpositions, the classic choice for names/titles/
   * codes where Levenshtein over-penalizes swaps. The threshold is
   * compared on the ROUNDED similarity (and the rounded value is what
   * ships) so the cross-engine boundary behavior is pinned to 4
   * decimals. Same block-equi-join + broadcast hot-block-cap scale
   * shape as [[editDistancePairs]].
   */
  def jaroWinklerPairs(docs: DataFrame, idCol: String, keyCol: Column,
                       blockCols: Seq[Column], minSim: Double,
                       maxBlock: Option[Long] = None): DataFrame = {
    val bNames = blockCols.indices.map(i => s"_b$i")
    val base = docs.select(
      col(idCol) +: keyCol.as("_key") +:
        blockCols.zip(bNames).map { case (c, n) => c.as(n) }: _*)
    val blocked = maxBlock match {
      case Some(cap) =>
        val hot = base.groupBy(bNames.map(col): _*)
          .agg(count(lit(1)).as("_n")).filter(col("_n") > cap)
          .select(bNames.map(col): _*)
        base.join(broadcast(hot), bNames, "left_anti")
      case None => base
    }
    // both self-join legs read the blocked frame; one materialization
    val bl = Materialize(blocked)
    val a = bl.select(col(idCol).as("a_id") +: col("_key").as("_ka") +:
      bNames.map(col): _*)
    val b = bl.select(col(idCol).as("b_id") +: col("_key").as("_kb") +:
      bNames.map(col): _*)
    a.join(b, bNames)
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim",
        round(TextAnalysis.jaroWinkler(col("_ka"), col("_kb")), 4))
      .filter(col("sim") >= minSim)
      .select("a_id", "b_id", "sim")
  }

  /**
   * Weighted (multiset) Jaccard pairs — the frequency-aware third
   * metric over the q102/q109 equality blocks:
   * `sim = Σ_t min(tfₐ, tf_b) / Σ_t max(tfₐ, tf_b)` over TOKEN
   * multisets, which separates "same words, same emphasis" from
   * set-Jaccard's membership-only view (a document repeating one
   * boilerplate line scores high on sets, low here). Only the
   * INTERSECTION joins: `Σ max = Σₐ + Σ_b − Σ min(common)`, so the
   * per-pair work is the common-token join plus two broadcast-sized
   * per-doc total lookups — never a full outer join of vocabularies.
   * All arithmetic on exact counts; one rounding site.
   */
  def weightedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                           blockCols: Seq[Column], minSim: Double,
                           maxBlock: Option[Long] = None): DataFrame = {
    val bNames = blockCols.indices.map(i => s"_b$i")
    val base = docs.select(
      col(idCol) +: col(textCol).as("_txt") +:
        blockCols.zip(bNames).map { case (c, n) => c.as(n) }: _*)
    val blocked = maxBlock match {
      case Some(cap) =>
        val hot = base.groupBy(bNames.map(col): _*)
          .agg(count(lit(1)).as("_n")).filter(col("_n") > cap)
          .select(bNames.map(col): _*)
        base.join(broadcast(hot), bNames, "left_anti")
      case None => base
    }
    // the blocked frame feeds both pair legs AND the tf explode, and tf
    // feeds the totals plus both common-token legs — one doc-sized and
    // one token-sized materialization instead of re-running the block
    // projection 4x and the explode+count 3x (r16)
    val bl = Materialize(blocked)
    val pairs = bl.select(col(idCol).as("a_id") +: bNames.map(col): _*)
      .join(bl.select(col(idCol).as("b_id") +: bNames.map(col): _*),
        bNames)
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val tf = bl
      .select(col(idCol), explode(split(col("_txt"), " ")).as("_t"))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_tf"))
      .transform(Materialize(_))
    val tot = tf.groupBy(col(idCol)).agg(sum("_tf").as("_tot"))
    val common = pairs
      .join(tf.select(col(idCol).as("a_id"), col("_t"), col("_tf").as("_ca")),
        Seq("a_id"))
      .join(tf.select(col(idCol).as("b_id"), col("_t"), col("_tf").as("_cb")),
        Seq("b_id", "_t"))
      .groupBy("a_id", "b_id")
      .agg(sum(least(col("_ca"), col("_cb"))).as("_minsum"))
    val sim = col("_minsum") / (col("_ta") + col("_tb") - col("_minsum"))
    common
      .join(tot.select(col(idCol).as("a_id"), col("_tot").as("_ta")), "a_id")
      .join(tot.select(col(idCol).as("b_id"), col("_tot").as("_tb")), "b_id")
      .filter(sim >= minSim)
      .select(col("a_id"), col("b_id"), round(sim, 4).as("sim"))
      .orderBy("a_id", "b_id")
  }

  /**
   * Exact bag-of-words cosine near-dup pairs — the lexical twin of
   * embedding cosine (q45) beside set MinHash (q40) and weighted
   * Jaccard (q144): term-FREQUENCY vectors, exact cosine, pairs via
   * the shared-term join.
   *
   * Cross-engine determinism: the dot product and both squared norms
   * are exact integers, so `dot / sqrt(n2a · n2b)` is two
   * correctly-rounded IEEE ops on exact inputs — bit-identical in any
   * engine evaluating the same expression shape, which is why the
   * threshold compares the RAW double (the 6-dp output rounding is
   * cosmetic, not load-bearing).
   *
   * Scale shape: the pair join fans out df² per token, so tokens with
   * df > maxDf are dropped from the vectors FIRST (stop-word removal,
   * the standard IR move — and the q52 skew cap); the norms are
   * computed over the SAME capped vectors, so the similarity stays a
   * true cosine of what was compared. Per-token fanout is bounded by
   * maxDf², and everything downstream of the tf aggregate is
   * |matching-postings|-sized.
   */
  /** Raw term-frequency frame `(doc_id, tok, tf)`. Empty tokens (an
    * empty or malformed text splits to `[""]`) are dropped — an empty
    * document has NO vector, not a one-dimensional empty-string one. */
  def lexicalTf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** [[lexicalTf]] with the df cap applied: tokens appearing in more
    * than `maxDf` documents are dropped from every vector. */
  def cappedLexicalTf(docs: DataFrame, idCol: String, textCol: String,
                      maxDf: Long): DataFrame = {
    val tf = lexicalTf(docs, idCol, textCol)
    val keep = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("tok")
    tf.join(keep, "tok")
  }

  /** Squared L2 norms `(doc_id, n2)` of a tf frame — exact integers. */
  def lexicalNorms(tf: DataFrame): DataFrame =
    tf.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))

  def lexicalCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                         minSim: Double, maxDf: Long): DataFrame = {
    // materialized once: the norm aggregate and both dot-product legs
    // read the capped tf frame (3× tokenize + df-cap without it)
    val tfc = Materialize(
      cappedLexicalTf(docs, idCol, textCol, maxDf))
    val norms = lexicalNorms(tfc)
    val dots = tfc.select(col("tok"), col("doc_id").as("da"), col("tf").as("tfa"))
      .join(tfc.select(col("tok"), col("doc_id").as("db"), col("tf").as("tfb"))
          .hint("shuffle_hash"),
        "tok")
      .filter(col("da") < col("db"))
      .groupBy("da", "db")
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    val sim = col("dot") / sqrt(col("n2a") * col("n2b"))
    dots
      .join(norms.select(col("doc_id").as("da"), col("n2").as("n2a")), "da")
      .join(norms.select(col("doc_id").as("db"), col("n2").as("n2b")), "db")
      .filter(sim >= minSim)
      .select(col("da"), col("db"), round(sim, 6).as("sim"))
      .orderBy("da", "db")
  }

  /**
   * Lexical cosine of a PROBE batch against a standing corpus — the
   * admission shape ([[simHashMatchesAgainst]]' cosine sibling): probe
   * vectors are restricted to the INDEX's kept vocabulary (the
   * standing corpus defines the stop words — its df cap was applied at
   * index build; a probe-only token can't match anything, and keeping
   * it in the norm would make a document's similarity depend on its
   * own unmatchable noise). Emits `(probe_id, corpus_id, sim)`.
   *
   * At rest, `indexTf` is the token-bucketed table
   * [[graft.sources.Layout.Lexical]] writes, so the
   * candidate join shuffles ONLY the batch-sized probe side — the
   * stored side is already hashed on `tok`.
   */
  def lexicalCosineAgainst(probeDocs: DataFrame, idCol: String,
                           textCol: String, indexTf: DataFrame,
                           indexNorms: DataFrame,
                           minSim: Double): DataFrame = {
    val vocab = indexTf.select("tok").distinct()
    val ptf = lexicalTf(probeDocs, idCol, textCol).join(vocab, "tok")
    val pnorms = lexicalNorms(ptf)
    val dots = ptf.select(col("tok"), col("doc_id").as("probe_id"),
        col("tf").as("tfa"))
      .join(indexTf.select(col("tok"), col("doc_id").as("corpus_id"),
        col("tf").as("tfb")), "tok")
      .groupBy("probe_id", "corpus_id")
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    val sim = col("dot") / sqrt(col("n2a") * col("n2b"))
    dots
      .join(pnorms.select(col("doc_id").as("probe_id"), col("n2").as("n2a")),
        "probe_id")
      .join(indexNorms.select(col("doc_id").as("corpus_id"),
        col("n2").as("n2b")), "corpus_id")
      .filter(sim >= minSim)
      .select(col("probe_id"), col("corpus_id"), round(sim, 6).as("sim"))
      .orderBy("probe_id", "corpus_id")
  }

  /**
   * Sorted-neighborhood candidate pairs (Hernández–Stolfo): order the
   * corpus by a blocking key, then pair every row with its `w` successors
   * in that order — candidate generation that catches near-dups equality
   * blocking misses (typo in the block key shifts a row a few positions,
   * not into a different bucket). Emits `(a_id, b_id, gap)` with
   * `gap = rank(b) - rank(a) ∈ [1, w]`; verification (edit distance,
   * Jaccard) composes downstream.
   *
   * Scale shape: the global order comes from [[Pipeline.globalRank]]
   * (range-exchange + zipWithIndex — no single-reducer window), and the
   * neighbor join is an equi-join on `floor(rank/w)` buckets: a row in
   * bucket k only meets buckets k and k+1, so cost is O(N·w) pairs out
   * of one hash join, window boundaries handled without a self-cross.
   */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
                              keyCol: Column, w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val ranked = Pipeline.globalRank(
      docs.select(col(idCol), keyCol.as("_snk")),
      idCol, Seq(col("_snk"), col(idCol)))
    val a = ranked.select(col(idCol).as("a_id"), col("rn").as("_ra"),
      ((col("rn") - 1) / w).cast("long").as("_bk"))
    val b = ranked.select(col(idCol).as("b_id"), col("rn").as("_rb"))
      .withColumn("_bk", explode(array(
        ((col("_rb") - 1) / w).cast("long"),
        ((col("_rb") - 1) / w).cast("long") - 1)))
    a.join(b, "_bk")
      .withColumn("gap", col("_rb") - col("_ra"))
      .filter(col("gap") >= 1 && col("gap") <= w)
      .select("a_id", "b_id", "gap")
  }

  /**
   * DBSCAN over a precomputed ε-neighborhood pair frame — the density
   * clustering that closes the loop q233's k-distance diagnostic opens
   * (the diagnostic picks ε; this clusters with it). Decoupling pair
   * generation from clustering is the q89/maxsim posture: the EXACT
   * pair frame is the oracle shape (brute-force ε-pairs at oracle
   * SFs), and the 100 TB path feeds this same operator LSH-blocked
   * pairs ([[embeddingNearDupPairs]]) with recall measured like every
   * ANN family (ScaleBench `dbscan`).
   *
   * Semantics (classic DBSCAN read on the ε-graph):
   *  - CORE: ≥ `minPts` ε-neighbors (self excluded);
   *  - cluster = connected component of the core–core ε-subgraph
   *    ([[dedupClustersStar]] — labels are component-min core ids;
   *    a core with no core neighbor is its own singleton cluster);
   *  - BORDER: non-core with ≥ 1 core neighbor, labeled by the MIN
   *    label among its core neighbors — the deterministic attachment
   *    rule (textbook DBSCAN leaves border attachment scan-order-
   *    dependent, a nondeterminism no cross-engine oracle can allow);
   *  - NOISE: everything else; cluster is NULL.
   *
   * Scale shape: one degree aggregation, two semi-joins to restrict
   * the core subgraph, the star CC (O(log) alternations, measured),
   * one min-attach aggregation — every step keyed on node ids, nothing
   * ever denser than the pair frame itself.
   *
   * Output: `(idCol, role ∈ core|border|noise, cluster nullable)`.
   */
  def dbscanLabels(points: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String, bCol: String, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    // the caller's pair frame (for q236, an all-pairs cosine theta join)
    // is referenced twice here and `sym` three times downstream — without
    // the materialization the epsilon-neighborhood join executed up to
    // six times (r16 measurement); pairs are bounded by the epsilon graph
    val p = Materialize(pairs)
    val sym = p.select(col(aCol).as("node"), col(bCol).as("nbr"))
      .union(p.select(col(bCol).as("node"), col(aCol).as("nbr")))
    val cores = sym.groupBy("node").agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minPts).select("node")
    val coreEdges = sym
      .join(cores, Seq("node"), "left_semi")
      .join(cores.withColumnRenamed("node", "nbr"), Seq("nbr"), "left_semi")
      .filter(col("node") < col("nbr"))
      .select(col("node").as("da"), col("nbr").as("db"))
    val cc = dedupClustersStar(coreEdges, "da", "db")
    val coreLabels = cores.join(cc, Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
    val borderLabels = sym
      .join(cores, Seq("node"), "left_anti")
      .join(coreLabels.select(col("node").as("nbr"), col("lbl")), "nbr")
      .groupBy("node").agg(min(col("lbl")).as("lbl"))
    points.select(col(idCol))
      .join(coreLabels.select(col("node").as(idCol),
        col("lbl").as("_core_lbl")), Seq(idCol), "left")
      .join(borderLabels.select(col("node").as(idCol),
        col("lbl").as("_border_lbl")), Seq(idCol), "left")
      .select(col(idCol),
        when(col("_core_lbl").isNotNull, lit("core"))
          .when(col("_border_lbl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("_core_lbl"), col("_border_lbl")).as("cluster"))
  }

  /**
   * ExactSubstr duplicate-span detection — the one big-name dedup
   * family previously absent (Lee et al. 2022, "Deduplicating Training
   * Data Makes Language Models Better", the ExactSubstr half),
   * re-expressed shuffle-native: instead of a driver-side suffix array
   * over the concatenated corpus, every word position contributes its
   * k-word ANCHOR gram, an anchor is DUPLICATED when its gram occurs
   * in ≥ 2 distinct documents, and maximal runs of consecutive
   * duplicated anchor positions within a document become the reported
   * spans — a run of anchors [a..b] covers words [a, b+k−1], and every
   * k-window inside the span is corpus-duplicated.
   *
   * Declared semantics (the oracle reproduces them EXACTLY): a
   * reported span is a maximal word interval whose every k-gram
   * appears in some other document. This is the standard distributed
   * relaxation of suffix-array ExactSubstr: any true cross-document
   * duplicated substring of ≥ k words is always inside a reported span
   * (its k-windows are all duplicated — detection is a superset), and
   * a chimeric run stitching two DIFFERENT sources' duplicates can
   * merge into one span (the documented over-merge — harmless for a
   * cut decision, because every word of the merged span still sits in
   * some cross-document duplicate window; spec-pinned).
   *
   * Scale shape, all ∝ corpus words (ScaleBench `exact_substr`):
   * anchor generation is map-only (explode in the scan); the dup flag
   * is ONE gram-keyed window pass (`min(doc) ≠ max(doc)` over the gram
   * partition — distinct-doc ≥ 2 without a count-distinct or a
   * df-join back onto the instance stream); islands are one per-doc
   * window over the DUPLICATED subset only; the span-text readout
   * joins spans back to the docs on the id. No suffix array, no
   * driver-side state, no all-pairs anything.
   *
   * Output: one row per maximal span — `(idCol, span_start` (0-based
   * word position), `n_anchors, span_words, span_md5)` where
   * `span_words = n_anchors + k − 1` and `span_md5` fingerprints the
   * covered words (the cross-engine span-identity check).
   */
  def exactSubstrSpans(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    require(k >= 2, s"anchor width must be >= 2, got $k")
    val ws = split(col(textCol), " ")
    val grams = docs.filter(size(ws) >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(ws) - lit(k - 1)),
        s => concat_ws(" ", slice(ws, s, lit(k))))))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("col").as("gram"))
    val byGram = Window.partitionBy("gram")
    val anchors = grams
      .withColumn("_dup",
        min(col(idCol)).over(byGram) =!= max(col(idCol)).over(byGram))
      .filter(col("_dup"))
    val islands = anchors
      .withColumn("_isl", col("pos") - row_number().over(
        Window.partitionBy(idCol).orderBy("pos")))
    val spans = islands.groupBy(col(idCol), col("_isl"))
      .agg(min(col("pos")).as("span_start"),
        count(lit(1)).as("n_anchors"))
      .withColumn("span_words", col("n_anchors") + lit(k - 1).cast("long"))
      .select(idCol, "span_start", "n_anchors", "span_words")
    spans.join(docs.select(col(idCol), ws.as("_ws")), Seq(idCol))
      .withColumn("span_md5", md5(concat_ws(" ",
        slice(col("_ws"), (col("span_start") + 1).cast("int"),
          col("span_words").cast("int")))))
      .select(idCol, "span_start", "n_anchors", "span_words", "span_md5")
  }

  /**
   * [[exactSubstrSpans]] applied as a CUT: remove every word covered by
   * a duplicated span and keep the remainder in original order — the
   * actual ExactSubstr pipeline action (Lee et al. cut the duplicated
   * bytes, they do not drop documents). Overlapping span intervals
   * (possible when two islands sit closer than k) union via a per-doc
   * running-max pass before coverage is computed, so no word is
   * double-counted. Documents with no duplicated span pass through
   * byte-exact; a fully-covered document keeps the empty string (the
   * q98 segment-dedup contract).
   *
   * Output: `(idCol, n_words, cut_words, kept_text)`.
   */
  def exactSubstrCut(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    val ws = split(col(textCol), " ")
    val spans = exactSubstrSpans(docs, idCol, textCol, k)
      .select(col(idCol), col("span_start"),
        (col("span_start") + col("span_words")).as("_end"))
    // interval union: a span is redundant where the running max of
    // prior ends already covers it; covered = Σ (end − max(start, run))
    val w = Window.partitionBy(idCol).orderBy("span_start")
      .rowsBetween(Window.unboundedPreceding, -1)
    // materialized once: the cut census and the interval collection both
    // read it, and each re-read re-ran the whole anchor-gram span
    // pipeline (r16); bounded by the span count, ≪ corpus
    val covered = spans
      .withColumn("_run", coalesce(max(col("_end")).over(w), lit(0L)))
      .select(col(idCol), col("span_start"), col("_end"), col("_run"))
      .withColumn("_cov",
        greatest(col("_end") - greatest(col("span_start"), col("_run")),
          lit(0L)))
      .transform(Materialize(_))
    val cuts = covered.groupBy(col(idCol))
      .agg(sum(col("_cov")).as("cut_words"))
    // kept text: words whose position falls in no unioned interval —
    // recomputed positionally with the same running-max frame
    val perDoc = covered.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("_end"))).as("_iv"))
    docs.select(col(idCol), ws.as("_ws"))
      .join(perDoc, Seq(idCol), "left")
      .join(cuts, Seq(idCol), "left")
      .select(col(idCol), size(col("_ws")).cast("long").as("n_words"),
        coalesce(col("cut_words"), lit(0L)).as("cut_words"),
        when(col("_iv").isNull, concat_ws(" ", col("_ws")))
          .otherwise(concat_ws(" ", filter(col("_ws"), (wd, i) =>
            !exists(col("_iv"), iv =>
              i.cast("long") >= iv.getField("span_start") &&
                i.cast("long") < iv.getField("_end")))))
          .as("kept_text"))
  }

  /**
   * 64-bit SimHash over a token array column: per-token xxhash64, per-bit
   * ±1 votes, fingerprint bit b set when the vote is positive. Pure
   * higher-order functions — stays inside whole-stage codegen.
   */
  def simHash64(tokens: Column): Column = {
    val masks = (0 until 64).map(b => lit(1L << b))
    val maskArr = array(masks: _*)
    val hashes = transform(tokens, t => xxhash64(t))
    val votes = aggregate(hashes,
      transform(maskArr, _ => lit(0)),
      (acc, h) => zip_with(acc, maskArr,
        (a, m) => a + when(h.bitwiseAND(m) =!= 0L, 1).otherwise(-1)))
    aggregate(zip_with(votes, maskArr,
        (v, m) => when(v > 0, m).otherwise(lit(0L))),
      lit(0L), (a, x) => a.bitwiseOR(x))
  }
}
