package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/**
 * Embedding similarity search (SURVEY.md §2.2 E): exact cosine via
 * codegen'd higher-order functions, batch brute-force top-k (the exact
 * baseline), and a sign-random-projection LSH path for scale.
 *
 * Scale notes (100 TB): brute force is O(probes × corpus) — correct as
 * the oracle and for small probe batches; the LSH path prunes the corpus
 * to matching hash buckets (cost ~corpus × tables for bucketing, then
 * only bucket-sized candidate sets per probe) at a measured recall
 * trade-off. For a persistent index, the bucket table would be written
 * bucketed-by(key) so probe lookups become partition-pruned scans.
 */
object Similarity {

  /** Sum of a double array (sequential fold — deterministic order, which
    * the oracle hash-match depends on). */
  private def sumArr(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity of two float-array columns in double precision —
    * the native codegen'd expression ([[graft.functions.CosineSimExpr]]):
    * one fused primitive loop, no per-row array allocations. Measured
    * 2.4× faster than the HOF formulation on 4M dim-64 pairs (47 ms vs
    * 113 ms, local[8], min-of-2), bit-identical results (spec-proven),
    * so every oracle hash is unchanged. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.GraftColumnBridge.column(
      graft.functions.CosineSimExpr(
        org.apache.spark.sql.graftbridge.GraftColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.GraftColumnBridge.expression(b)))

  /** The higher-order-function formulation — retained as the
    * pure-built-ins parity reference for [[cosine]]'s equality spec. */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = sumArr(zip_with(ad, bd, (x, y) => x * y))
    dot / (sqrt(sumArr(transform(ad, x => x * x))) *
           sqrt(sumArr(transform(bd, x => x * x))))
  }

  /**
   * Exact batch top-k: every probe row against the whole corpus, ranked
   * per probe. Probes are broadcast (small side by construction); ranking
   * happens on the rounded similarity with the id as tiebreaker so the
   * ordering is reproducible across engines.
   */
  def knnBatch(corpus: DataFrame, probes: DataFrame, idCol: String,
               embCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(embCol).as("_p_emb"))
    val sim = round(cosine(col("_p_emb"), col(embCol)), 4)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("nn_id"))
    corpus.crossJoin(broadcast(p))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("nn_id"), sim.as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /**
   * k-NN majority-vote classification: label each probe with the most
   * common label among its k exact nearest neighbors ([[knnBatch]]'s
   * ranking — rounded cosine DESC, neighbor id tiebreak), votes tied by
   * the smaller label. The standard embedding-space label-propagation /
   * weak-annotation primitive (tag unlabeled documents from a labeled
   * seed set); returns `(probe_id, pred_label, votes)`.
   *
   * Scale shape: inherits [[knnBatch]]'s broadcast-probes scan (the
   * corpus never shuffles; per-row k-rank via the probe-partitioned
   * window on the tiny candidate frame), plus one equi-join back to the
   * corpus for neighbor labels and one k-row-per-probe aggregate. For
   * probe sets too big to broadcast, feed the IVF/LSH candidate paths
   * into the same vote instead.
   */
  def knnClassify(corpus: DataFrame, probes: DataFrame, idCol: String,
                  embCol: String, labelCol: String, k: Int): DataFrame = {
    val nn = knnBatch(corpus, probes, idCol, embCol, k)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("votes").desc, col(labelCol))
    nn.join(corpus.select(col(idCol).as("nn_id"), col(labelCol)), "nn_id")
      .groupBy(col("probe_id"), col(labelCol))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_vr", row_number().over(w))
      .filter(col("_vr") === 1)
      .select(col("probe_id"), col(labelCol).as("pred_label"),
        col("votes"))
  }

  /**
   * Hard-negative mining: for each labeled probe, the k most-similar
   * corpus vectors with a DIFFERENT label — the contrastive-training
   * sampler (the negatives an embedding model most needs to push
   * apart). [[knnBatch]]'s ranking (rounded cosine DESC, id tiebreak)
   * with the label-disagreement predicate applied BEFORE the rank, so
   * the k slots all go to genuine negatives.
   *
   * Scale shape: identical to [[knnBatch]] — probes broadcast, the
   * corpus scans in place (no shuffle), the per-probe window ranks a
   * candidate frame the label filter already thinned. A corpus-sized
   * probe set swaps the broadcast for the IVF/LSH candidate paths,
   * then applies the same filter + rank.
   */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, idCol: String,
                    embCol: String, labelCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"),
      col(labelCol).as("_p_lbl"), col(embCol).as("_p_emb"))
    val sim = round(cosine(col("_p_emb"), col(embCol)), 4)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("neg_id"))
    corpus.crossJoin(broadcast(p))
      .filter(col(labelCol) =!= col("_p_lbl"))
      .select(col("probe_id"), col(idCol).as("neg_id"),
        col(labelCol).as("neg_label"), sim.as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Deterministic random hyperplanes: `tables` hash tables, `bits`
    * planes each, components ~N(0,1) from a fixed seed. */
  private def planes(tables: Int, bits: Int, dim: Int, seed: Long): Seq[Seq[Seq[Double]]] = {
    val rnd = new Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** Bucket keys (one per table) for an embedding column: bit b of table
    * t's key is sign(v · plane(t,b)). HOF-expression formulation —
    * retained as the parity reference for [[lshKeysArray]]'s equality
    * spec; the operators use the array UDF, see below. */
  def lshBucketKeys(emb: Column, tables: Int, bits: Int, dim: Int,
                    seed: Long = 42L): Seq[Column] = {
    val vd = transform(emb, x => x.cast("double"))
    planes(tables, bits, dim, seed).map { tablePlanes =>
      tablePlanes.zipWithIndex.map { case (plane, b) =>
        val dot = sumArr(zip_with(vd, typedlit(plane), (x, p) => x * p))
        when(dot > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
    }
  }

  /**
   * All `tables` bucket keys for an embedding as ONE `array<long>` column,
   * computed by a single compiled closure per row — bit-identical to
   * [[lshBucketKeys]] (spec-proven), but without its plan cost: the HOF
   * formulation embeds tables×bits literal plane arrays as expression
   * nodes (32×5×64 ≈ 10k literals), whose analysis + codegen dominated
   * probe latency (~0.6 s/query at ANY data size). The hyperplanes here
   * live in the closure, serialized once per task; the per-row work
   * (tables×bits dim-length dots) is the same arithmetic, JIT-compiled.
   * This is the deliberate exception to the functions-over-UDFs rule:
   * the built-in route is quadratically worse in PLAN size, not data.
   */
  def lshKeysArray(tables: Int, bits: Int, dim: Int,
                   seed: Long = 42L): Column => Column = {
    val ps: Array[Array[Array[Double]]] =
      planes(tables, bits, dim, seed).map(_.map(_.toArray).toArray).toArray
    val f = udf { (emb: Seq[Float]) =>
      // null in → null keys out (posexplode then drops the row): a dirty
      // corpus row degrades per-row, like the HOF path it replaced,
      // instead of failing the whole job with an NPE
      if (emb == null) null
      else {
      val v = emb.toArray
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        val tp = ps(t)
        var key = 0L
        var b = 0
        while (b < bits) {
          val plane = tp(b)
          var dot = 0.0
          var i = 0
          val n = math.min(plane.length, v.length)
          while (i < n) { dot += v(i) * plane(i); i += 1 }
          if (dot > 0) key |= (1L << b)
          b += 1
        }
        out(t) = key
        t += 1
      }
      out
      }
    }
    (emb: Column) => f(emb)
  }

  /**
   * Query-directed multi-probe key sets for the PROBE side (Lv et al.,
   * "Multi-Probe LSH", VLDB 2007): per table, the base bucket key plus
   * `flips` one-bit perturbations, flipping the bits with the smallest
   * hyperplane margin |dot| — the bits most likely to have landed on
   * the wrong side for a true near neighbor. Probing those buckets too
   * buys the recall of ~`tables × (1+flips)` plain tables while hashing
   * and storing only `tables` — the index is UNCHANGED; only probe rows
   * multiply, and probes are the tiny side of the join.
   *
   * This is the documented re-tune for the measured third-decade recall
   * decay (SCALE.md §10: fixed tables=32 held recall@3 ≈0.85 over two
   * decades of log₂N bits growth, then slipped to 0.745 at 1000×):
   * recall is recovered at probe time with zero index rebuild, instead
   * of growing `tables` — which would re-encode every stored row.
   *
   * Returns one `array<array<long>>` column (per table, `1+flips` keys,
   * base key first); same compiled-closure rationale and null contract
   * as [[lshKeysArray]], and bit-identical base keys (shared plane
   * derivation — spec-proven).
   */
  def lshProbeKeysMulti(tables: Int, bits: Int, dim: Int, seed: Long = 42L,
                        flips: Int = 2): Column => Column = {
    require(flips >= 0 && flips <= bits, s"flips must be in [0, $bits]")
    val ps: Array[Array[Array[Double]]] =
      planes(tables, bits, dim, seed).map(_.map(_.toArray).toArray).toArray
    val f = udf { (emb: Seq[Float]) =>
      if (emb == null) null
      else {
        val v = emb.toArray
        Array.tabulate(tables) { t =>
          val tp = ps(t)
          val dots = new Array[Double](bits)
          var key = 0L
          var b = 0
          while (b < bits) {
            val plane = tp(b)
            var dot = 0.0
            var i = 0
            val n = math.min(plane.length, v.length)
            while (i < n) { dot += v(i) * plane(i); i += 1 }
            dots(b) = dot
            if (dot > 0) key |= (1L << b)
            b += 1
          }
          // deterministic margin order (bit index breaks exact ties)
          val order = Array.range(0, bits)
            .sortBy(b => (math.abs(dots(b)), b))
          val out = new Array[Long](1 + flips)
          out(0) = key
          var j = 0
          while (j < flips) { out(j + 1) = key ^ (1L << order(j)); j += 1 }
          out.toSeq
        }.toSeq
      }
    }
    (emb: Column) => f(emb)
  }

  /**
   * [[annCosineTopKFrom]] with query-directed multi-probe: identical
   * stored index and join shape, probe side carries `1+flips` keys per
   * table. `flips = 0` is bit-identical to the single-probe path
   * (spec). Candidate sets are supersets of single-probe's, so recall
   * is monotone in `flips` (spec). Measured (SCALE.md §10,
   * sf0.1, q41c's 500-probe load, recall@3 vs exact kNN):
   *
   *   - over-grown-bits regime t=32 b=8 (the third-decade shape):
   *     0.528 → 0.883 (flips=2, probe ×1.49) → 0.965 (flips=4, ×1.83)
   *   - shipped oracle regime t=32 b=6: 0.850 → 0.997 → 1.000
   *   - HALF the index, t=16 b=8, flips=4: recall 0.805 in 1.10 s —
   *     beats t=16→32 table doubling (t=32 flips=0: 0.528 in 2.14 s)
   *     on recall AND probe time at half the storage.
   *
   * So the scale policy is: size `bits` by [[bitsFor]]'s occupancy
   * rule, and buy recall with `flips` at probe time — never by
   * re-encoding the corpus into more tables.
   */
  def annCosineTopKFromMulti(corpusBuckets: DataFrame, probes: DataFrame,
                             idCol: String, embCol: String, k: Int,
                             tables: Int, bits: Int, dim: Int = 64,
                             seed: Long = 42L, flips: Int = 2): DataFrame = {
    val keys = lshProbeKeysMulti(tables, bits, dim, seed, flips)(col(embCol))
    val p = probes
      .select(col(idCol).as("probe_id"), col(embCol).as("_emb_probe_id"),
        posexplode(keys).as(Seq("table", "keys")))
      .select(col("probe_id"), col("_emb_probe_id"), col("table"),
        explode(col("keys")).as("key"))
    annRerank(corpusBuckets, p, k)
  }

  /**
   * The exploded LSH bucket frame `(id, emb, table, key)` — the
   * persistable ANN index. At rest, write it `bucketBy(key)`
   * ([[graft.sources.Layout.Ann]]) so a probe lookup becomes
   * a bucket-pruned scan instead of a full pass over the corpus.
   */
  def annBucketFrame(corpus: DataFrame, idCol: String, embCol: String,
                     tables: Int = 8, bits: Int = 8, dim: Int = 64,
                     seed: Long = 42L): DataFrame =
    annBucketFrameImpl(corpus, idCol, embCol, tables, bits, dim, seed)

  /**
   * The measured sizing rule for `bits` (BENCH_SCALED.json
   * `q41c_logbits`, SCALE.md §10): expected bucket occupancy is
   * N/2^bits, so holding occupancy constant as the corpus grows keeps
   * per-probe candidate count — and probe cost — flat. Growing bits
   * 6→9→13 with a 1×→10×→100× corpus measured a 0.14 scaling exponent
   * at held recall@3 (0.85–0.97); fixed bits measured 70× the probe
   * time at 100×. Default occupancy 32 reproduces the measured
   * configs (2 k→6, 20 k→9, 200 k→13); raise `tables`, not occupancy,
   * to buy recall.
   */
  def bitsFor(corpusSize: Long, targetBucketOccupancy: Int = 32): Int = {
    require(targetBucketOccupancy > 0, "occupancy must be positive")
    val buckets = math.max(2.0, corpusSize.toDouble / targetBucketOccupancy)
    math.max(1, math.round(math.log(buckets) / math.log(2)).toInt)
  }

  /**
   * The rebuild-time sizing rule for `nlist` ([[bitsFor]]'s IVF
   * sibling; SCALE.md's IVF-PQ third-decade lesson): a probe visits
   * nprobe/nlist of the corpus, so a FIXED nlist makes probe cost
   * linear in N (measured exponent 0.80 at 2 M vectors, nlist=16) —
   * cells must grow with the corpus. `nlist ~ √N` makes both the
   * per-cell row count and the broadcast centroid table grow as √N
   * (the classic IVF balance), clamped to ≥16 (the oracle-SF config),
   * ≤65,536 (the centroid table stays broadcast-sized), and ≤N/64
   * (a cell needs enough rows to be worth a bucketed file). A
   * rebuild-time knob BY DESIGN: the append path never refits, so
   * resizing is a [[graft.sources.Warehouse.compactTable]]-class
   * maintenance action, not an ingest-path one.
   */
  def nlistFor(corpusSize: Long): Int = {
    val n = math.max(1L, corpusSize)
    val sqrt = math.round(math.sqrt(n.toDouble))
    math.max(16L, math.min(sqrt, math.min(65536L, n / 64))).toInt
  }

  /**
   * Sign-LSH band-width sizing rule — bits per table so the EXPECTED
   * bucket occupancy stays ~`perBucket` rows: `⌈log₂(n/perBucket)⌉`
   * clamped to [6, 24]. The self-join candidate volume of a bucketed
   * pair stage is Σ occupancy² ≈ n²/2^bits, so FIXED bits turn any
   * banded pair generator quadratic once buckets saturate (ScaleBench
   * `dbscan` measured exponent 1.47 with bits=8 at 100k vectors; ~1
   * with this rule). Companion to [[nlistFor]] (cells) and
   * [[flipsFor]] (probe effort) — sizing is code, not prose.
   *
   * Recall coupling: more bits lowers per-table collision for
   * NEAR-duplicates (P = (1−θ/π)^bits), so thresholds materially below
   * 1.0 should grow `tables` or multi-probe flips alongside
   * ([[flipsFor]]'s log-growth is the measured policy); exact-copy
   * pairs (θ≈0) keep recall 1.0 at any bits.
   */
  def lshBitsFor(corpusSize: Long, perBucket: Int = 50): Int = {
    require(perBucket >= 1, s"perBucket must be >= 1, got $perBucket")
    val n = math.max(1L, corpusSize)
    val raw = math.ceil(math.log(n.toDouble / perBucket) / math.log(2.0))
    math.max(6, math.min(24, if (raw.isNaN || raw < 6) 6 else raw.toInt))
  }

  /**
   * The PROBE-time close of [[nlistFor]]'s rebuild-time rule (the r11
   * third-decade lesson made policy): with `nlist ~ √N`, a fixed
   * `nprobe` visits a vanishing fraction of cells as the corpus grows,
   * and recall decays silently — ivfpq_nlist measured 1.0/1.0/0.8 at
   * 1×/10×/100× with nprobe=12 (BENCH_SCALED.json). `nprobe ∝ log₂ N`
   * holds recall at sublinear probe cost (the scan is nprobe·N/nlist =
   * nprobe·√N rows). The 2.5 multiplier is MEASURED, not guessed: a
   * one-build config grid at 100× (nlist=447, 200k vectors,
   * BENCH_SCALED `ivfpq_grid`) read recall@3 0.867/0.933/1.000 at
   * nprobe 26/40/64 — and identical recall at candidates 150 vs 400
   * at every nprobe, so the loss is pure CELL MISS (the ADC candidate
   * budget is not the binding constraint at these scales; don't grow
   * it first). 2.5·log₂(200k) ≈ 44 cells sits on the ≥0.93 shelf.
   * Anchored at the oracle floor (never below nprobe=12), clamped to
   * nlist (a probe cannot visit more cells than exist).
   */
  def nprobeFor(corpusSize: Long, nlist: Int): Int = {
    val n = math.max(1L, corpusSize)
    val raw = math.round(2.5 * math.log(n.toDouble) / math.log(2.0)).toInt
    math.min(math.max(12, raw), math.max(1, nlist))
  }

  /**
   * Multi-probe flip budget ∝ log of corpus growth — the q41c
   * sign-LSH twin of [[nprobeFor]]: [[bitsFor]] holds bucket occupancy
   * (and probe cost) flat by adding ~3.3 bits per corpus decade, but
   * each added bit is another hyperplane a true neighbor can land on
   * the wrong side of, so recall at fixed `flips` decays with scale
   * (q41c_logbits 0.97 → 0.85 → 0.745 across three decades,
   * BENCH_SCALED.json). Flipping the lowest-margin bits recovers
   * exactly those boundary losses ([[lshProbeKeysMulti]]), and the
   * number of boundaries grows with the bits added since the anchor
   * scale — so `flips = bits(N) − bits(anchor)` ≈ log₂(N/anchor),
   * halved (each flip probes the SINGLE most marginal boundary first;
   * measured flips=2 bought 0.528→0.883 and flips=4 0.965 at 13
   * bits). Probe cost multiplies by (1+flips) keys per table, each
   * key's candidate work still occupancy-bounded — log-factor cost
   * for held recall. Floor 2 (the shipped q41 default), cap 8 (past
   * that, raise `tables` at rebuild time instead).
   */
  def flipsFor(corpusSize: Long, anchorSize: Long = 2000L): Int = {
    val n = math.max(anchorSize, math.max(1L, corpusSize))
    val grown = math.log(n.toDouble / anchorSize) / math.log(2.0)
    math.max(2, math.min(math.round(grown / 2.0).toInt, 8))
  }

  private def annBucketFrameImpl(corpus: DataFrame, idCol: String,
                                 embCol: String, tables: Int, bits: Int,
                                 dim: Int, seed: Long): DataFrame = {
    val keys = lshKeysArray(tables, bits, dim, seed)(col(embCol))
    corpus.select(col(idCol).as("id"), col(embCol).as("emb"),
        posexplode(keys).as(Seq("table", "key")))
  }

  /**
   * Approximate top-k: candidates = corpus rows sharing at least one
   * LSH bucket with the probe in any table, then exact cosine re-rank of
   * the candidates only. Returns up to k neighbors per probe.
   *
   * Tuning: expected bucket occupancy is N/2^bits, so `bits` grows with
   * log₂(corpus) to keep candidate sets bounded, and `tables` buys recall
   * (1-(1-p^bits)^tables for per-bit agreement p). The defaults suit
   * 10³–10⁵ rows; a 100 TB corpus wants bits≈20+ with the bucket table
   * persisted bucketed-by(key).
   */
  def annCosineTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                    embCol: String, k: Int, tables: Int = 8, bits: Int = 8,
                    dim: Int = 64, seed: Long = 42L): DataFrame =
    annCosineTopKFrom(
      annBucketFrame(corpus, idCol, embCol, tables, bits, dim, seed),
      probes, idCol, embCol, k, tables, bits, dim, seed)

  /**
   * The probe side of [[annCosineTopK]] against an ALREADY-BUILT bucket
   * frame ([[annBucketFrame]] layout, possibly persisted or read back
   * from a [[graft.sources.Layout.Ann]] table): hashing the
   * corpus is the INDEX-BUILD cost, paid once — a production query pays
   * only probe hashing + bucket join + candidate re-rank. Bench entry
   * q41c times exactly this split.
   */
  def annCosineTopKFrom(corpusBuckets: DataFrame, probes: DataFrame,
                        idCol: String, embCol: String, k: Int,
                        tables: Int, bits: Int,
                        dim: Int = 64, seed: Long = 42L): DataFrame = {
    val p = annBucketFrame(probes, idCol, embCol, tables, bits, dim, seed)
      .select(col("id").as("probe_id"), col("emb").as("_emb_probe_id"),
        col("table"), col("key"))
    annRerank(corpusBuckets, p, k)
  }

  /** Shared bucket-join + exact re-rank tail of the LSH probe paths:
    * probe frame is `(probe_id, _emb_probe_id, table, key)` with any key
    * multiplicity (single- or multi-probe). */
  private def annRerank(corpusBuckets: DataFrame, probeFrame: DataFrame,
                        k: Int): DataFrame = {
    val c = corpusBuckets.select(col("id").as("nn_id"),
      col("emb").as("_emb_nn_id"), col("table"), col("key"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("nn_id"))
    // Score before dedup: a pair colliding in several tables is scored up
    // to `tables` times (cheap, ~2·dim flops), but the distinct then runs
    // on (long, long, double) — the exchange never carries embeddings
    // (grouping on float arrays was the scale bug caught in plan audit).
    c.join(broadcast(probeFrame), Seq("table", "key"))
      .filter(col("nn_id") =!= col("probe_id"))
      .select(col("probe_id"), col("nn_id"),
        round(cosine(col("_emb_probe_id"), col("_emb_nn_id")), 4).as("sim"))
      .distinct()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Euclidean distance of two float-array columns in double precision
    * (sequential fold — deterministic order, like [[cosine]]'s HOF
    * reference). */
  def euclidean(a: Column, b: Column): Column =
    sqrt(sumArr(zip_with(a, b,
      (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double")))))

  /**
   * E2LSH bucket keys for EUCLIDEAN distance (Datar et al., p-stable
   * LSH, SoCG 2004) — the third hash family next to sign-LSH (cosine)
   * and MinHash (Jaccard): per table, `bits` Gaussian projections each
   * quantized to `⌊(a·v + b)/w⌋` (offsets b ~ U[0, w)), the quantized
   * cells mixed into one long key. Points within distance ≪ w mostly
   * share every cell; `w` is the distance scale the family
   * discriminates at — size it near the expected NN distance.
   * Same compiled-closure rationale and null contract as
   * [[lshKeysArray]] (the HOF route would embed tables×bits×dim
   * literals in the plan).
   */
  def l2LshKeysArray(tables: Int, bits: Int, dim: Int, w: Double,
                     seed: Long = 42L): Column => Column = {
    require(w > 0, "bucket width must be positive")
    val ps: Array[Array[Array[Double]]] =
      planes(tables, bits, dim, seed).map(_.map(_.toArray).toArray).toArray
    val rnd = new Random(seed + 1)
    val offs: Array[Array[Double]] =
      Array.fill(tables)(Array.fill(bits)(rnd.nextDouble() * w))
    val f = udf { (emb: Seq[Float]) =>
      if (emb == null) null
      else {
        val v = emb.toArray
        val out = new Array[Long](tables)
        var t = 0
        while (t < tables) {
          val tp = ps(t)
          var key = 1125899906842597L
          var b = 0
          while (b < bits) {
            val plane = tp(b)
            var dot = 0.0
            var i = 0
            val n = math.min(plane.length, v.length)
            while (i < n) { dot += v(i) * plane(i); i += 1 }
            val cell = math.floor((dot + offs(t)(b)) / w).toLong
            key = key * 31 + cell
            b += 1
          }
          out(t) = key
          t += 1
        }
        out
      }
    }
    (emb: Column) => f(emb)
  }

  /** The [[annBucketFrame]] twin for the L2 family — `(id, emb, table,
    * key)`, persistable through the same
    * [[graft.sources.Layout.Ann]] layout. */
  def l2BucketFrame(corpus: DataFrame, idCol: String, embCol: String,
                    tables: Int, bits: Int, dim: Int = 64,
                    w: Double = 2.0, seed: Long = 42L): DataFrame = {
    val keys = l2LshKeysArray(tables, bits, dim, w, seed)(col(embCol))
    corpus.select(col(idCol).as("id"), col(embCol).as("emb"),
      posexplode(keys).as(Seq("table", "key")))
  }

  /**
   * Approximate EUCLIDEAN top-k via E2LSH: candidates share ≥1 cell
   * key with the probe in any table, then the exact-distance re-rank
   * of candidates only — [[annCosineTopK]]'s shape with ascending
   * rounded distance (nn_id tiebreak) instead of descending cosine.
   */
  def l2LshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                embCol: String, k: Int, tables: Int = 16, bits: Int = 4,
                dim: Int = 64, w: Double = 2.0, seed: Long = 42L): DataFrame = {
    val cb = l2BucketFrame(corpus, idCol, embCol, tables, bits, dim, w, seed)
    val pb = l2BucketFrame(probes, idCol, embCol, tables, bits, dim, w, seed)
      .select(col("id").as("probe_id"), col("emb").as("_e_p"),
        col("table"), col("key"))
    val win = Window.partitionBy("probe_id")
      .orderBy(col("dist").asc, col("nn_id"))
    cb.select(col("id").as("nn_id"), col("emb").as("_e_nn"),
        col("table"), col("key"))
      .join(broadcast(pb), Seq("table", "key"))
      .filter(col("nn_id") =!= col("probe_id"))
      .select(col("probe_id"), col("nn_id"),
        round(euclidean(col("_e_p"), col("_e_nn")), 4).as("dist"))
      .distinct()
      .withColumn("rn", row_number().over(win).cast("long"))
      .filter(col("rn") <= k)
  }

  /** L2-normalized double array from a float-array column. */
  private def unitArray(emb: Column): Column = {
    val vd = transform(emb, x => x.cast("double"))
    val norm = sqrt(sumArr(transform(vd, x => x * x)))
    transform(vd, x => x / norm)
  }

  /**
   * IVF-flat approximate top-k (the other classic ANN layout): a
   * coarse quantizer over unit vectors ([[fitCodebooks]], driver-side
   * sample fit, deterministic), corpus inverted into `nlist` cluster
   * cells, probes search only their `nprobe` nearest cells with exact
   * cosine re-ranking.
   *
   * Scale shape: the corpus is scanned once to assign cells (at rest the
   * cell table persists `bucketBy(cell)`); a probe touches
   * ~corpus·nprobe/nlist rows. Centroids are driver-side (nlist ≤ a few
   * thousand) and broadcast. The contract stays a recall floor vs
   * [[knnBatch]] (q53), not a hash oracle — the quantizer is
   * deterministic since round 7, but cell GEOMETRY (which neighbors
   * share the probe's cells) is still a property of the fit, not of
   * the query semantics.
   */
  /**
   * Per-group Lloyd's k-means over a bounded subvector pool — ALL
   * `subspaces` codebooks in ONE Spark job: the hash-ranked pool
   * (≤`poolSize` rows per group, groups × poolSize × subDim doubles —
   * a few MB) is collected once, and both seeding and every Lloyd
   * iteration run driver-side on it. This is the faiss-style quantizer
   * shape — a codebook never trains on the corpus, it trains on a
   * sample, so iterating on that sample in-process costs nothing per
   * round (the previous distributed loop paid a full job per
   * iteration: ~11 driver round-trips ≈ 3 s of pure scheduling at any
   * data size) AND is bit-deterministic (sequential float order — no
   * partition-dependent sum jitter in the centroids).
   *
   * Seeding is deterministic farthest-point (k-means++ quality without
   * its randomness): first centroid = hash-minimal candidate, each
   * next = the candidate farthest from all chosen. Plain hash-random
   * init measurably lost recall — at sf0.1 it left per-subspace
   * codebooks WORSE than the shared baseline (q83 probe 3 under the
   * floor at candidates=100; SCALE.md §5). A code that loses every point
   * keeps its previous centroid. Returns centroids[sub][code][dim].
   * `groupPerSub=false` collapses every subvector into group 0 — the
   * shared-codebook variant, kept for the recall-comparison spec.
   */
  private def fitCodebooks(train: DataFrame, subspaces: Int, codebook: Int,
                           subDim: Int, groupPerSub: Boolean,
                           iters: Int = 10): Array[Array[Array[Double]]] = {
    val groups = if (groupPerSub) subspaces else 1
    val grp = if (groupPerSub) col("sub") else lit(0)
    val poolSize = 8192
    // Pool selection — the poolSize hash-smallest subvectors per group,
    // ordered by (xxhash64(str), str). The hash and its string tiebreak
    // are computed as COLUMNS and the selection happens driver-side over
    // the collected sample: the previous per-group rank window ran as a
    // SINGLE task sorting the entire training sample (groups=1 for the
    // IVF coarse quantizer — one task ranking up to 200k rows through a
    // string cast; r16 verdict item 5), where the plain collect fetches
    // partitions in parallel and the driver sort of ≤trainSampleRows
    // rows is sub-100ms. The comparator is unchanged (long asc, then
    // the rendered-array string — pure ASCII, so JVM string order ==
    // Spark's UTF8 binary order), so the selected pool — and therefore
    // the codebooks, index geometry, and recall floors — is IDENTICAL
    // to the window formulation (exact-tie order among byte-identical
    // renderings was partition-dependent before and still is).
    // Bounded by construction: every caller feeds a hash-sampled frame
    // of ≤ trainSampleRows (~200k) rows — this collect is the same
    // driver-side-fit contract the scaladoc documents, just one step
    // earlier.
    // dirty rows (null subvectors) never reach the training pool — the
    // same per-row degrade contract as the assigner UDFs
    val pool = train.filter(col("_sv").isNotNull)
      .select(grp.as("_g"),
        xxhash64(col("_sv").cast("string")).as("_h"),
        col("_sv").cast("string").as("_s"), col("_sv")).collect()
      .groupBy(_.getInt(0))
      .map { case (g, rows) =>
        g -> rows.sortBy(r => (r.getLong(1), r.getString(2)))
          .take(poolSize).map(_.getSeq[Double](3).toArray)
      }
    val centroids = Array.tabulate(groups, codebook)((g, c) =>
      Array.fill(subDim)(0.0))
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    pool.foreach { case (g, cands) =>
      val k = math.min(codebook, cands.length)
      // farthest-point seeding
      val minD = Array.fill(cands.length)(Double.MaxValue)
      var chosen = 0
      var next = 0 // hash-minimal candidate seeds the chain
      while (chosen < k) {
        centroids(g)(chosen) = cands(next)
        var best = 0; var bestD = -1.0
        var i = 0
        while (i < cands.length) {
          val d = d2(cands(i), cands(next))
          if (d < minD(i)) minD(i) = d
          if (minD(i) > bestD) { bestD = minD(i); best = i }
          i += 1
        }
        next = best
        chosen += 1
      }
      // Lloyd iterations on the pool, sequential and deterministic
      val assignTo = new Array[Int](cands.length)
      for (_ <- 1 to iters) {
        var i = 0
        while (i < cands.length) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            val d = d2(cands(i), centroids(g)(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          assignTo(i) = best
          i += 1
        }
        val sums = Array.tabulate(k)(_ => new Array[Double](subDim))
        val counts = new Array[Int](k)
        i = 0
        while (i < cands.length) {
          val c = assignTo(i)
          counts(c) += 1
          var j = 0
          val v = cands(i)
          while (j < subDim && j < v.length) { sums(c)(j) += v(j); j += 1 }
          i += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0)
            centroids(g)(c) = Array.tabulate(subDim)(j => sums(c)(j) / counts(c))
          c += 1
        }
      }
    }
    centroids
  }

  /**
   * Product-quantization approximate top-k — the MEMORY-bound ANN
   * layout: unit vectors are cut into `subspaces` subvectors, a
   * per-subspace codebook (classic PQ; [[fitCodebooks]], sample-fit)
   * quantizes each to a code, and the corpus at rest is `subspaces`
   * small ints per vector (64 floats → 8 codes ≈ 32× compression —
   * at 100 TB the index fits where raw embeddings cannot). A query
   * scores codes by ADC (asymmetric distance computation): the probe's
   * per-(subspace, code) partial dot products form a tiny broadcast
   * table, the corpus code frame joins it map-side and sums — no
   * embedding bytes move — then the top `candidates` get an exact
   * cosine re-rank.
   *
   * `perSubspace=false` selects the round-5 shared-codebook shortcut
   * (one codebook for every subspace) — materially worse recall per
   * byte at equal candidates (spec-measured), retained only as the
   * comparison baseline.
   *
   * Quantization is seeded but float-sum order across partitions is
   * not bit-stable, so the contract is a RECALL floor vs [[knnBatch]]
   * (q83), never a hash oracle.
   */
  /** `(id, sub, subvec)`: every unit vector exploded into its
    * `subspaces` subvectors of `subDim` elements. */
  private def subFrame(df: DataFrame, idCol: String, embCol: String,
                       outId: String, subspaces: Int,
                       subDim: Int): DataFrame =
    df.select(col(idCol).as(outId), unitArray(col(embCol)).as("_u"))
      .select(col(outId), posexplode(transform(
        sequence(lit(0), lit(subspaces - 1)),
        i => slice(col("_u"), i * subDim + 1, lit(subDim)))))
      .select(col(outId), col("pos").as("sub"), col("col").as("_sv"))

  /** Compiled nearest-centroid argmin over a broadcast per-subspace
    * codebook. Null subvectors (dirty rows) yield null codes instead of
    * an NPE — the downstream code join then drops them per-row, matching
    * how the HOF expression paths propagate null. Shared by the initial
    * build ([[pqIndex]]) and the append-time encode ([[pqEncode]]) so
    * both assign with identical semantics. */
  private def codeAssigner(
      bcBooks: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]]) =
    udf { (sub: Int, sv: Seq[Double]) =>
      if (sv == null) None
      else {
        val cs = bcBooks.value(if (bcBooks.value.length == 1) 0 else sub)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val cent = cs(c)
          var d = 0.0; var i = 0
          while (i < cent.length && i < sv.length) {
            val diff = sv(i) - cent(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        Some(best)
      }
    }

  /** Compiled one-pass residual splitter for the IVF-PQ family: unit
    * normalization, coarse-cell argmin, and the per-subspace residual
    * slices in ONE closure per row → `(cell, subvecs)`. Replaces a
    * HOF chain (transform/aggregate/zip_with/slice — all
    * CodegenFallback, interpreted per row) plus a centroid join: the
    * arithmetic and its sequential order are IDENTICAL (unit fold,
    * L2 argmin, elementwise residual), so fits and codes are
    * bit-equal to the expression formulation, but the hot build path
    * stays JIT-compiled — the [[lshKeysArray]] exception applied to
    * the encoder. Null embedding → null struct (per-row degrade). */
  private def residSplitter(
      bcCells: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      subspaces: Int, subDim: Int) =
    udf { (emb: Seq[Float]) =>
      if (emb == null) Option.empty[(Int, Seq[Seq[Double]])]
      else {
        val v = new Array[Double](emb.length)
        var i = 0
        var n2 = 0.0
        while (i < v.length) {
          val d = emb(i).toDouble; v(i) = d; n2 += d * d; i += 1
        }
        val norm = math.sqrt(n2)
        i = 0
        while (i < v.length) { v(i) /= norm; i += 1 }
        val cs = bcCells.value
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val cent = cs(c)
          var d = 0.0; var j = 0
          val m = math.min(cent.length, v.length)
          while (j < m) { val df = v(j) - cent(j); d += df * df; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val cent = cs(best)
        val subs = Array.tabulate(subspaces) { s =>
          Array.tabulate(subDim) { j =>
            val idx = s * subDim + j
            (if (idx < v.length) v(idx) else 0.0) -
              (if (idx < cent.length) cent(idx) else 0.0)
          }.toSeq
        }.toSeq
        Some((best, subs))
      }
    }

  /** `(id, cell, sub, _sv)` residual sub-frame via [[residSplitter]] —
    * the shared encode scan of [[ivfPqIndex]] and [[ivfPqEncode]]. */
  private def residSubFrame(corpus: DataFrame, idCol: String,
                            embCol: String,
                            bcCells: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
                            subspaces: Int, subDim: Int): DataFrame =
    corpus
      .select(col(idCol).as("id"),
        residSplitter(bcCells, subspaces, subDim)(col(embCol)).as("_e"))
      .filter(col("_e").isNotNull)
      .select(col("id"), col("_e._1").as("cell"), posexplode(col("_e._2")))
      .select(col("id"), col("cell"), col("pos").as("sub"),
        col("col").as("_sv"))

  /** [[codeAssigner]] for the IVF coarse quantizer (one flat centroid
    * list, same null-degrade contract). Shared by [[ivfIndex]] and the
    * append-time assignment ([[ivfAssign]]). */
  private def cellAssigner(
      bcCells: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) =
    udf { (sv: Seq[Double]) =>
      if (sv == null) None
      else {
        val cs = bcCells.value
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          val cent = cs(c)
          var d = 0.0; var i = 0
          while (i < cent.length && i < sv.length) {
            val diff = sv(i) - cent(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        Some(best)
      }
    }

  /** Row count for sizing a bounded training sample: prefer the
    * optimizer's stats row count — free when the source is an analyzed
    * warehouse table ([[graft.sources.Warehouse.analyzeTable]]) — and
    * fall back to the metadata-only count() job. At 100 TB the stats
    * path avoids even the per-build footer-listing pass over a million
    * object-store files. */
  private def rowCountForSampling(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(df.count())

  /**
   * The persistable PQ layout: the code frame `(id, sub, code)` —
   * `subspaces` small ints per vector, the ~32×-compressed index — and
   * the codebook table `(sub, code, centroid)` (subspaces × codebook
   * rows, broadcast-sized). At rest, write both via
   * [[graft.sources.Layout.Pq]]; unlike LSH/IVF there is
   * no pruning key — an ADC query scans every code row by design, the
   * win is that the scan is 8 ints/vector instead of the embeddings.
   */
  def pqIndex(corpus: DataFrame, idCol: String, embCol: String,
              dim: Int = 64, subspaces: Int = 8, codebook: Int = 64,
              seed: Long = 42L, trainSampleRows: Int = 200000,
              perSubspace: Boolean = true): (DataFrame, DataFrame) = {
    require(dim % subspaces == 0, s"dim $dim must divide into $subspaces subspaces")
    val subDim = dim / subspaces
    val spark = corpus.sparkSession
    val corpusSubs = subFrame(corpus, idCol, embCol, "id", subspaces, subDim)
    // sample-bounded training frame, exactly like the IVF quantizer
    val n = rowCountForSampling(corpus) * subspaces
    val keep = math.min(1.0, trainSampleRows.toDouble / math.max(1L, n))
    val sampled =
      if (keep >= 1.0) corpusSubs
      else corpusSubs.filter(pmod(xxhash64(col("id"), col("sub")),
        lit(1000000L)) < lit(math.ceil(keep * 1e6).toLong))
    val books = fitCodebooks(sampled.select(col("sub"), col("_sv")),
      subspaces, codebook, subDim, groupPerSub = perSubspace)

    // corpus at rest: (id, sub, code), assigned by the same compiled
    // argmin closure as the fit
    val bcBooks = spark.sparkContext.broadcast(books)
    val assignCode = codeAssigner(bcBooks)
    val codes = corpusSubs
      .select(col("id"), col("sub"), assignCode(col("sub"), col("_sv")).as("code"))
    val codebookDf = spark.createDataFrame(
        for {
          sub <- 0 until subspaces
          (cent, code) <- books(if (books.length == 1) 0 else sub).zipWithIndex
        } yield (sub, code, cent.toSeq))
      .toDF("sub", "code", "centroid")
    (codes, codebookDf)
  }

  /**
   * Encode NEW rows against an EXISTING codebook — the incremental-append
   * half of the PQ index ([[graft.sources.Warehouse.append]]): at
   * 100 TB an index is never rebuilt for a daily batch, the batch is
   * encoded with the stored codebook (faiss `add` vs `train`) and its
   * code rows appended. The codebook frame is the [[pqIndex]] /
   * `<table>_codebook` layout `(sub, code, centroid)`; it is collected
   * (subspaces × codebook rows — broadcast-sized by construction) and
   * codes are assigned by the SAME compiled argmin as the initial build,
   * so appended codes are directly comparable with stored ones.
   */
  def pqEncode(newRows: DataFrame, idCol: String, embCol: String,
               codebookDf: DataFrame, dim: Int = 64,
               subspaces: Int = 8): DataFrame = {
    require(dim % subspaces == 0, s"dim $dim must divide into $subspaces subspaces")
    val subDim = dim / subspaces
    val rows = codebookDf.select(col("sub"), col("code"), col("centroid")).collect()
    require(rows.nonEmpty, "empty codebook")
    val books = Array.fill(rows.map(_.getInt(0)).max + 1)(
      Array.fill(rows.map(_.getInt(1)).max + 1)(new Array[Double](subDim)))
    rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    val bc = newRows.sparkSession.sparkContext.broadcast(books)
    subFrame(newRows, idCol, embCol, "id", subspaces, subDim)
      .select(col("id"), col("sub"),
        codeAssigner(bc)(col("sub"), col("_sv")).as("code"))
  }

  def pqCosineTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                   embCol: String, k: Int, dim: Int = 64,
                   subspaces: Int = 8, codebook: Int = 64,
                   candidates: Int = 200, seed: Long = 42L,
                   trainSampleRows: Int = 200000,
                   perSubspace: Boolean = true): DataFrame = {
    val (codes, codebookDf) = pqIndex(corpus, idCol, embCol, dim, subspaces,
      codebook, seed, trainSampleRows, perSubspace)
    pqCosineTopKFrom(codes, codebookDf, corpus, probes, idCol, embCol,
      k, candidates, dim, subspaces)
  }

  /** The ADC query side of [[pqCosineTopK]] against an ALREADY-BUILT
    * code index ([[pqIndex]] layout, fresh or read back from
    * [[graft.sources.Layout.Pq]]). `corpus` supplies raw
    * embeddings for the exact re-rank of the `candidates` only — the
    * point-lookup join a production store serves by id. */
  def pqCosineTopKFrom(codes: DataFrame, codebookDf: DataFrame,
                       corpus: DataFrame, probes: DataFrame,
                       idCol: String, embCol: String, k: Int,
                       candidates: Int = 200, dim: Int = 64,
                       subspaces: Int = 8): DataFrame = {
    val subDim = dim / subspaces
    // ADC table: dot(probe_sub, centroid) for every (probe, sub, code) —
    // probes × subspaces × codebook rows, broadcast-sized by construction
    val adcTable = subFrame(probes, idCol, embCol, "probe_id", subspaces, subDim)
      .join(broadcast(codebookDf.select(col("sub"), col("code").as("_code"),
        col("centroid").as("_centroid"))), Seq("sub"))
      .select(col("probe_id"), col("sub"), col("_code"),
        sumArr(zip_with(col("_sv"), col("_centroid"), (x, c) => x * c)).as("_pdot"))

    // approx score = Σ_sub pdot(sub, code): map-side broadcast join +
    // one aggregation; embeddings never ride this exchange
    val cw = Window.partitionBy("probe_id").orderBy(col("_adc").desc, col("nn_id"))
    val cand = codes
      .select(col("id").as("nn_id"), col("sub"), col("code").as("_code"))
      .join(broadcast(adcTable), Seq("sub", "_code"))
      .groupBy("probe_id", "nn_id").agg(sum("_pdot").as("_adc"))
      .withColumn("_cr", row_number().over(cw))
      .filter(col("_cr") <= candidates && col("nn_id") =!= col("probe_id"))
      .select("probe_id", "nn_id")

    // exact cosine re-rank of the candidates only
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("nn_id"))
    cand
      .join(corpus.select(col(idCol).as("nn_id"), col(embCol).as("_e_nn")), "nn_id")
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(embCol).as("_e_p"))), "probe_id")
      .select(col("probe_id"), col("nn_id"),
        round(cosine(col("_e_p"), col("_e_nn")), 4).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /**
   * The persistable IVF layout: the cell frame `(id, emb, cell)` (the
   * "inverted file" — corpus scanned ONCE for assignment) and the
   * centroid table `(cell, centroid)` (nlist rows). At rest, write the
   * cell frame `bucketBy(cell)` ([[graft.sources.Layout.Ivf]])
   * so a probe's `nprobe` cells become a bucket-pruned scan; the
   * centroid table is tiny and rides anywhere.
   *
   * Quantizer training: bounded deterministic hash-sample (a coarse
   * quantizer gains nothing past ~10⁵ points) feeding the same
   * driver-side farthest-point + Lloyd fit as PQ ([[fitCodebooks]] —
   * it replaced an MLlib k-means|| fit whose ~15 scheduled jobs were
   * pure overhead at any data size, and it is bit-deterministic
   * besides). The quantizer NEVER trains on the full corpus; the sample
   * is sized from the optimizer's stats row count when the corpus is an
   * analyzed warehouse table ([[rowCountForSampling]]), falling back to
   * a metadata-only count() (row-group footers, not column IO).
   */
  def ivfIndex(corpus: DataFrame, idCol: String, embCol: String,
               nlist: Int = 16, seed: Long = 42L,
               trainSampleRows: Int = 200000,
               dim: Int = 64): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val n = rowCountForSampling(corpus)
    val keep = math.min(1.0, trainSampleRows.toDouble / math.max(1L, n))
    val sampled =
      if (keep >= 1.0) corpus
      // xxhash64(id) mod 1e6: deterministic, seed-stable, no bias toward
      // leading partitions (a limit() would train on a data-order prefix)
      else corpus.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) <
        lit(math.ceil(keep * 1e6).toLong))
    val books = fitCodebooks(
      sampled.select(unitArray(col(embCol)).as("_sv")),
      subspaces = 1, codebook = nlist, subDim = dim, groupPerSub = false)
    val bcCells = spark.sparkContext.broadcast(books(0))
    val assignCell = cellAssigner(bcCells)
    val cells = corpus
      .select(col(idCol).as("id"), col(embCol).as("emb"),
        assignCell(unitArray(col(embCol))).as("cell"))
    val centroids = spark.createDataFrame(
      books(0).toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "centroid")
    (cells, centroids)
  }

  /**
   * Assign NEW rows to EXISTING IVF cells — the incremental-append half
   * of the inverted file ([[graft.sources.Warehouse.append]]):
   * the coarse quantizer is never refit for a batch append, the batch is
   * assigned against the stored centroid table `(cell, centroid)` with
   * the same compiled argmin as the initial build and its cell rows
   * appended to the bucketed table.
   */
  def ivfAssign(newRows: DataFrame, idCol: String, embCol: String,
                centroids: DataFrame): DataFrame = {
    val rows = centroids.select(col("cell"), col("centroid")).collect()
    require(rows.nonEmpty, "empty centroid table")
    val cells = new Array[Array[Double]](rows.map(_.getInt(0)).max + 1)
    rows.foreach(r => cells(r.getInt(0)) = r.getSeq[Double](1).toArray)
    val bc = newRows.sparkSession.sparkContext.broadcast(cells)
    newRows.select(col(idCol).as("id"), col(embCol).as("emb"),
      cellAssigner(bc)(unitArray(col(embCol))).as("cell"))
  }

  def ivfCosineTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                    embCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                    seed: Long = 42L, trainSampleRows: Int = 200000,
                    dim: Int = 64): DataFrame = {
    val (cells, centroids) =
      ivfIndex(corpus, idCol, embCol, nlist, seed, trainSampleRows, dim)
    ivfCosineTopKFrom(cells, centroids, probes, idCol, embCol, k, nprobe)
  }

  /** The probe side of [[ivfCosineTopK]] against an ALREADY-BUILT index
    * ([[ivfIndex]] layout, fresh or read back from
    * [[graft.sources.Layout.Ivf]]): nprobe nearest cells
    * per probe by cosine against the broadcast centroids, then exact
    * re-rank of only those cells' rows. */
  def ivfCosineTopKFrom(cells: DataFrame, centroids: DataFrame,
                        probes: DataFrame, idCol: String, embCol: String,
                        k: Int, nprobe: Int): DataFrame = {
    val cw = Window.partitionBy("probe_id").orderBy(col("_csim").desc, col("_cell"))
    val probeCells = probes
      .select(col(idCol).as("probe_id"), col(embCol).as("_emb_probe"))
      .crossJoin(broadcast(centroids
        .select(col("cell").as("_cell"), col("centroid").as("_centroid"))))
      .select(col("probe_id"), col("_emb_probe"), col("_cell"),
        cosine(col("_emb_probe"), col("_centroid")).as("_csim"))
      .withColumn("_cr", row_number().over(cw))
      .filter(col("_cr") <= nprobe)
      .select("probe_id", "_emb_probe", "_cell")

    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("nn_id"))
    cells
      .select(col("id").as("nn_id"), col("emb").as("_emb_nn"),
        col("cell").as("_cell"))
      .join(broadcast(probeCells), Seq("_cell"))
      .filter(col("nn_id") =!= col("probe_id"))
      .select(col("probe_id"), col("nn_id"),
        round(cosine(col("_emb_probe"), col("_emb_nn")), 4).as("sim"))
      .distinct()
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Deterministic Rademacher rows for the JL transform: `outDim` rows
    * of `dim` entries ±1/√outDim from a fixed seed — PUBLIC so the
    * generated DuckDB oracle builds its literals from the SAME values
    * (the simHashHexSql precedent: one source, two engines). With
    * outDim a power of FOUR the scale 1/√outDim is a dyadic rational,
    * so the SQL literal text round-trips bit-identically. */
  def jlMatrix(outDim: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new Random(seed)
    val s = 1.0 / math.sqrt(outDim.toDouble)
    Array.fill(outDim)(Array.fill(dim)(if (rnd.nextBoolean()) s else -s))
  }

  /**
   * Johnson–Lindenstrauss random projection — the dimensionality cut
   * that feeds every downstream ANN family at 100 TB: a seeded
   * Rademacher matrix (±1/√outDim, [[jlMatrix]]) maps `dim`-float
   * embeddings onto `outDim` doubles, preserving pairwise
   * angles/distances within the JL distortion bound while shrinking
   * the bytes every subsequent scan, shuffle, and index carries by
   * dim/outDim. Distributions beat Gaussians here operationally:
   * exact dyadic entries are engine-reproducible (no transcendental
   * libm drift) and the projection is pure ±adds at heart.
   *
   * One compiled closure per row (the [[lshKeysArray]] exception to
   * functions-over-UDFs: an outDim×dim literal HOF plan pays analysis
   * + codegen ∝ matrix size on EVERY query); per-row cost outDim×dim
   * multiply-adds, no shuffle, null in → null out (dirty rows degrade
   * per-row). Returns `(id, proj: array<double>)`.
   */
  def randomProjection(df: DataFrame, idCol: String, embCol: String,
                       outDim: Int = 16, dim: Int = 64,
                       seed: Long = 42L): DataFrame = {
    val m = jlMatrix(outDim, dim, seed)
    val f = udf { (emb: Seq[Float]) =>
      if (emb == null) null
      else {
        val v = emb.toArray
        val out = new Array[Double](m.length)
        var j = 0
        while (j < m.length) {
          val row = m(j)
          var s = 0.0
          var i = 0
          val n = math.min(row.length, v.length)
          while (i < n) { s += v(i) * row(i); i += 1 }
          out(j) = s
          j += 1
        }
        out
      }
    }
    df.select(col(idCol).as("id"), f(col(embCol)).as("proj"))
  }

  /**
   * IVF-PQ composite index — the layout that actually carries ANN at
   * 100 TB (the faiss `IVFx,PQy` shape): the coarse quantizer prunes
   * WHERE a probe reads (≈ nprobe/nlist of the corpus, a bucket-pruned
   * scan at rest) and product quantization shrinks WHAT it reads
   * (`subspaces` small ints per vector instead of embedding bytes).
   * The PQ codebooks train on RESIDUALS (unit vector − its cell
   * centroid): for a unit probe q and stored x in cell c,
   * `dot(q, x) = dot(q, µ_c) + dot(q, x − µ_c)` EXACTLY, so the only
   * approximation in the candidate score is quantizing the residual —
   * and residual magnitudes are a fraction of vector magnitudes, which
   * is why residual PQ holds recall at code budgets where flat PQ
   * drifts (the same argument behind faiss's default).
   *
   * Returns (codes `(id, cell, sub, code)`, centroids `(cell,
   * centroid)`, codebook `(sub, code, centroid)`). At rest write via
   * [[graft.sources.Layout.IvfPq]] — codes `bucketBy(cell)`
   * (the pruning key rides every code row); both side tables are
   * broadcast-sized by construction (nlist rows / subspaces×codebook
   * rows).
   *
   * Scale shape: two corpus scans (cell assignment, residual encode —
   * both broadcast-arg map jobs, no shuffle), one bounded sample
   * collect per quantizer fit ([[fitCodebooks]], ≤8,192 rows/group).
   * Like IVF/PQ the fit is deterministic but float-sum order across
   * partitions is not bit-stable, so the query contract stays a recall
   * floor vs [[knnBatch]] (q214), never a hash oracle.
   */
  def ivfPqIndex(corpus: DataFrame, idCol: String, embCol: String,
                 nlist: Int = 16, subspaces: Int = 8, codebook: Int = 64,
                 dim: Int = 64, seed: Long = 42L,
                 trainSampleRows: Int = 200000)
      : (DataFrame, DataFrame, DataFrame) = {
    require(dim % subspaces == 0, s"dim $dim must divide into $subspaces subspaces")
    val subDim = dim / subspaces
    val spark = corpus.sparkSession
    val n = rowCountForSampling(corpus)

    // coarse quantizer: same bounded-sample fit as ivfIndex
    val keepC = math.min(1.0, trainSampleRows.toDouble / math.max(1L, n))
    val sampledC =
      if (keepC >= 1.0) corpus
      else corpus.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) <
        lit(math.ceil(keepC * 1e6).toLong))
    val cellBooks = fitCodebooks(
      sampledC.select(unitArray(col(embCol)).as("_sv")),
      subspaces = 1, codebook = nlist, subDim = dim, groupPerSub = false)
    val bcCells = spark.sparkContext.broadcast(cellBooks(0))
    val centroids = spark.createDataFrame(
      cellBooks(0).toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "centroid")

    // residual sub-frame: (id, cell, sub, _sv) with _sv = slice of
    // (unit(x) − µ_cell) — one compiled closure per row (residSplitter)
    val residSubs =
      residSubFrame(corpus, idCol, embCol, bcCells, subspaces, subDim)

    // residual PQ codebooks: bounded hash-sample over (id, sub)
    val keepP = math.min(1.0,
      trainSampleRows.toDouble / math.max(1L, n * subspaces))
    val sampledP =
      if (keepP >= 1.0) residSubs
      else residSubs.filter(pmod(xxhash64(col("id"), col("sub")),
        lit(1000000L)) < lit(math.ceil(keepP * 1e6).toLong))
    val books = fitCodebooks(sampledP.select(col("sub"), col("_sv")),
      subspaces, codebook, subDim, groupPerSub = true)
    val bcBooks = spark.sparkContext.broadcast(books)
    val codes = residSubs
      .select(col("id"), col("cell"), col("sub"),
        codeAssigner(bcBooks)(col("sub"), col("_sv")).as("code"))
    val codebookDf = spark.createDataFrame(
        for {
          sub <- 0 until subspaces
          (cent, code) <- books(sub).zipWithIndex
        } yield (sub, code, cent.toSeq))
      .toDF("sub", "code", "centroid")
    (codes, centroids, codebookDf)
  }

  /**
   * Encode NEW rows against an EXISTING IVF-PQ index — the
   * incremental-append half ([[graft.sources.Warehouse.append]]):
   * neither quantizer refits for a daily batch; cells come from the
   * stored centroid table and codes from the stored residual codebook,
   * assigned by the SAME compiled argmins as the build, so appended
   * rows are directly comparable with stored ones.
   */
  def ivfPqEncode(newRows: DataFrame, idCol: String, embCol: String,
                  centroids: DataFrame, codebookDf: DataFrame,
                  dim: Int = 64, subspaces: Int = 8): DataFrame = {
    require(dim % subspaces == 0, s"dim $dim must divide into $subspaces subspaces")
    val subDim = dim / subspaces
    val spark = newRows.sparkSession
    val cRows = centroids.select(col("cell"), col("centroid")).collect()
    require(cRows.nonEmpty, "empty centroid table")
    val cells = new Array[Array[Double]](cRows.map(_.getInt(0)).max + 1)
    cRows.foreach(r => cells(r.getInt(0)) = r.getSeq[Double](1).toArray)
    val bcCells = spark.sparkContext.broadcast(cells)
    val bRows = codebookDf.select(col("sub"), col("code"), col("centroid")).collect()
    require(bRows.nonEmpty, "empty codebook")
    val books = Array.fill(bRows.map(_.getInt(0)).max + 1)(
      Array.fill(bRows.map(_.getInt(1)).max + 1)(new Array[Double](subDim)))
    bRows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    val bcBooks = spark.sparkContext.broadcast(books)
    residSubFrame(newRows, idCol, embCol, bcCells, subspaces, subDim)
      .select(col("id"), col("cell"), col("sub"),
        codeAssigner(bcBooks)(col("sub"), col("_sv")).as("code"))
  }

  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                embCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
                subspaces: Int = 8, codebook: Int = 64,
                candidates: Int = 100, dim: Int = 64, seed: Long = 42L,
                trainSampleRows: Int = 200000): DataFrame = {
    val (codes, centroids, codebookDf) = ivfPqIndex(corpus, idCol, embCol,
      nlist, subspaces, codebook, dim, seed, trainSampleRows)
    ivfPqTopKFrom(codes, centroids, codebookDf, corpus, probes, idCol,
      embCol, k, nprobe, candidates, dim, subspaces)
  }

  /**
   * The probe side against an ALREADY-BUILT IVF-PQ index
   * ([[ivfPqIndex]] layout, fresh or read back from
   * [[graft.sources.Layout.IvfPq]]): nprobe cells per
   * probe ranked by `dot(unit(q), µ_c)` (the additive term of the
   * score decomposition, so cell choice and scoring share one
   * geometry), candidate scores by residual ADC —
   * `dot(q, µ_c) + Σ_sub LUT[probe, sub, code]` where the LUT is the
   * probe's partial dots against the broadcast residual codebook —
   * then the exact cosine re-rank of `candidates` rows only.
   *
   * Scale shape: the LUT and cell lists are probes×subspaces×codebook /
   * probes×nprobe rows (broadcast-sized); the only corpus-touching
   * stage is the code scan of the nprobe selected cells (bucket-pruned
   * at rest), which moves `subspaces` ints per visited vector — no
   * embedding bytes ride any exchange until the bounded re-rank
   * point-lookup.
   */
  def ivfPqTopKFrom(codes: DataFrame, centroids: DataFrame,
                    codebookDf: DataFrame, corpus: DataFrame,
                    probes: DataFrame, idCol: String, embCol: String,
                    k: Int, nprobe: Int = 4, candidates: Int = 100,
                    dim: Int = 64, subspaces: Int = 8): DataFrame = {
    val subDim = dim / subspaces
    val probeUnit = probes
      .select(col(idCol).as("probe_id"), unitArray(col(embCol)).as("_uq"))
    // nprobe cells per probe by the exact additive term dot(q, µ_c)
    val cw = Window.partitionBy("probe_id").orderBy(col("_cdot").desc, col("_cell"))
    val probeCells = probeUnit
      .crossJoin(broadcast(centroids
        .select(col("cell").as("_cell"), col("centroid").as("_centroid"))))
      .select(col("probe_id"), col("_cell"),
        sumArr(zip_with(col("_uq"), col("_centroid"), (x, c) => x * c)).as("_cdot"))
      .withColumn("_cr", row_number().over(cw))
      .filter(col("_cr") <= nprobe)
      .select("probe_id", "_cell", "_cdot")

    // residual ADC LUT: dot(q_sub, residual centroid) per (probe, sub, code)
    val lut = probeUnit
      .select(col("probe_id"), posexplode(transform(
        sequence(lit(0), lit(subspaces - 1)),
        i => slice(col("_uq"), i * subDim + 1, lit(subDim)))))
      .select(col("probe_id"), col("pos").as("sub"), col("col").as("_qs"))
      .join(broadcast(codebookDf.select(col("sub"), col("code").as("_code"),
        col("centroid").as("_centroid"))), Seq("sub"))
      .select(col("probe_id"), col("sub"), col("_code"),
        sumArr(zip_with(col("_qs"), col("_centroid"), (x, c) => x * c)).as("_pdot"))

    val aw = Window.partitionBy("probe_id").orderBy(col("_approx").desc, col("nn_id"))
    val cand = codes
      .select(col("id").as("nn_id"), col("cell").as("_cell"),
        col("sub"), col("code").as("_code"))
      .join(broadcast(probeCells), Seq("_cell"))
      .join(broadcast(lut), Seq("probe_id", "sub", "_code"))
      .groupBy("probe_id", "nn_id")
      .agg((max(col("_cdot")) + sum(col("_pdot"))).as("_approx"))
      .withColumn("_cr", row_number().over(aw))
      .filter(col("_cr") <= candidates && col("nn_id") =!= col("probe_id"))
      .select("probe_id", "nn_id")

    // exact cosine re-rank of the candidates only
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("nn_id"))
    cand
      .join(corpus.select(col(idCol).as("nn_id"), col(embCol).as("_e_nn")), "nn_id")
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(embCol).as("_e_p"))), "probe_id")
      .select(col("probe_id"), col("nn_id"),
        round(cosine(col("_e_p"), col("_e_nn")), 4).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /**
   * SQ8 scalar quantization — the simplest member of the quantized-ANN
   * family (next to IVF's partition pruning and PQ's subspace codes):
   * each dimension is mapped onto 256 uniform levels between its
   * corpus-wide min and max, shrinking a float vector 4× with no
   * training fit at all. Returns `(codes, params)`: codes `(id, code:
   * array<int>)` for the at-rest table, params ONE row `(mins, scales:
   * array<double>)` — dim-sized, broadcast-sized by construction.
   *
   * Scale shape: the per-dimension min/max is a posexplode feeding ONE
   * aggregation keyed by position — map-side combine reduces every
   * partition to `dim` rows, so the exchange carries partitions×dim
   * rows, never corpus×dim. Encoding is a broadcast of the one-row
   * params frame + per-row `transform` arithmetic inside codegen; the
   * corpus is scanned twice (stats, encode) and shuffled never.
   */
  def sq8Index(corpus: DataFrame, idCol: String, embCol: String): (DataFrame, DataFrame) = {
    val stats = corpus
      .select(posexplode(col(embCol)).as(Seq("_pos", "_x")))
      .groupBy("_pos")
      .agg(min(col("_x").cast("double")).as("_mn"),
        max(col("_x").cast("double")).as("_mx"))
    // one row of dim-aligned arrays (collect_list bounded by dim)
    val params = stats.agg(
      transform(array_sort(collect_list(struct(col("_pos"), col("_mn")))),
        s => s.getField("_mn")).as("mins"),
      transform(array_sort(collect_list(struct(col("_pos"), col("_mn"), col("_mx")))),
        // 255 levels; a constant dimension gets scale 0 (code 0 for all)
        s => when(s.getField("_mx") > s.getField("_mn"),
          lit(255.0) / (s.getField("_mx") - s.getField("_mn")))
          .otherwise(lit(0.0))).as("scales"))
    val codes = corpus
      .crossJoin(broadcast(params))
      .select(col(idCol).as("id"),
        zip_with(col(embCol),
          zip_with(col("mins"), col("scales"), (m, s) => struct(m.as("m"), s.as("s"))),
          (x, ms) => least(lit(255), greatest(lit(0),
            floor((x.cast("double") - ms.getField("m")) * ms.getField("s"))
              .cast("int")))).as("code"))
    (codes, params)
  }

  /**
   * SQ8 ANN probe against an already-built code table ([[sq8Index]]
   * layout, fresh or read back from
   * [[graft.sources.Layout.Sq8]]): candidates ranked by
   * cosine over the DEQUANTIZED codes (`mn + (c + 0.5)/scale` — the
   * level midpoint halves the worst-case reconstruction error), then
   * the exact re-rank of `candidates` rows only against the raw
   * corpus — the same candidate-then-verify contract as IVF/PQ. The
   * params frame broadcasts; codes never carry floats.
   */
  def sq8CosineTopKFrom(codes: DataFrame, params: DataFrame,
                        corpus: DataFrame, probes: DataFrame,
                        idCol: String, embCol: String, k: Int,
                        candidates: Int = 20): DataFrame = {
    val dq = codes
      .crossJoin(broadcast(params))
      .select(col("id").as("nn_id"),
        zip_with(col("code"),
          zip_with(col("mins"), col("scales"), (m, s) => struct(m.as("m"), s.as("s"))),
          (c, ms) => when(ms.getField("s") > 0.0,
            ms.getField("m") + (c.cast("double") + 0.5) / ms.getField("s"))
            .otherwise(ms.getField("m"))).as("_dq"))
    val cw = Window.partitionBy("probe_id").orderBy(col("_asim").desc, col("nn_id"))
    val cand = dq
      .crossJoin(broadcast(probes.select(col(idCol).as("probe_id"),
        col(embCol).as("_e_p"))))
      .filter(col("nn_id") =!= col("probe_id"))
      .select(col("probe_id"), col("nn_id"),
        cosine(col("_e_p"), col("_dq")).as("_asim"))
      .withColumn("_cr", row_number().over(cw))
      .filter(col("_cr") <= candidates)
      .select("probe_id", "nn_id")
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("nn_id"))
    cand
      .join(corpus.select(col(idCol).as("nn_id"), col(embCol).as("_e_nn")), "nn_id")
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(embCol).as("_e_p"))), "probe_id")
      .select(col("probe_id"), col("nn_id"),
        round(cosine(col("_e_p"), col("_e_nn")), 4).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /**
   * Late-interaction (ColBERT-style) MaxSim retrieval: treat each
   * vector as `subspaces` contiguous sub-vectors of `subDim` dims and
   * score `Σ_i max_j cos(q_i, d_j)` — the multi-vector relevance shape
   * (each query aspect matches its BEST document aspect) that a single
   * pooled cosine flattens away.
   *
   * Plan: one broadcast of the probe batch, then ALL subspaces² sub-
   * cosines evaluate in ONE projection per (probe, doc) row (codegen'd
   * [[cosine]] over `slice`s + per-query-sub `greatest` + a strictly
   * left-to-right sum) — no explode, no per-sub exchange; the only
   * shuffle is the per-probe top-k window, [[knnBatch]]'s contract.
   * Ranking is on the ROUNDED score with the id tiebreak (the
   * cross-engine determinism rule); the oracle reproduces the same
   * left-to-right sum via an ordered list fold. This exact scan is the
   * baseline/oracle shape — the scale path blocks each subspace
   * through the ANN families like PQ does.
   *
   * Output: `(probe_id, rn, nn_id, maxsim)`.
   */
  def maxSimTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                 embCol: String, subspaces: Int, subDim: Int,
                 k: Int): DataFrame = {
    require(subspaces >= 1 && subDim >= 1,
      "maxSimTopK needs subspaces >= 1 and subDim >= 1")
    // loud failure on misconfigured geometry (the kCore posture): a
    // slice past the array end would silently yield short subvectors
    // and NaN/wrong sub-cosines — assert every row's length instead
    val dims = subspaces * subDim
    val guard = (c: Column) => assert_true(size(c) === lit(dims),
      concat(lit(s"maxSimTopK: embedding length must be subspaces*subDim" +
        s"=$dims, got "), size(c).cast("string"))).isNull
    val pairs = corpus.select(col(idCol).as("nn_id"), col(embCol).as("_d"))
      .filter(guard(col("_d")))
      .crossJoin(broadcast(probes.select(col(idCol).as("probe_id"),
        col(embCol).as("_q")).filter(guard(col("_q")))))
      .filter(col("nn_id") =!= col("probe_id"))
    val best = (0 until subspaces).map { i =>
      val qv = slice(col("_q"), i * subDim + 1, subDim)
      val cosines = (0 until subspaces).map { j =>
        cosine(qv, slice(col("_d"), j * subDim + 1, subDim))
      }
      if (cosines.sizeIs == 1) cosines.head else greatest(cosines: _*)
    }
    val w = Window.partitionBy("probe_id")
      .orderBy(col("maxsim").desc, col("nn_id"))
    pairs
      .withColumn("maxsim", round(best.reduce(_ + _), 4) + lit(0.0))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("probe_id", "rn", "nn_id", "maxsim")
  }

  /**
   * Semantic decontamination — the embedding twin of the q56/q92 TEXT
   * decontamination, applied across the train/eval SPLIT (the
   * "too close to the benchmark" filter an LLM data pipeline runs
   * before training): flag every corpus row whose embedding sits
   * within `tau` cosine of ANY holdout row. Exact by construction:
   * the holdout (benchmark-sized) BROADCASTS and the corpus scans
   * map-only — the q106/q203 probe pattern, no corpus shuffle, no
   * index; at 100 TB the stored-index variant probes the ANN families
   * instead, but the exact scan is the oracle shape and the right
   * default while holdouts stay broadcast-sized. Threshold applies to
   * the RAW cosine (the q89 rule); the reported max rounds once.
   *
   * Output: `(idCol, n_hits, max_sim)` — one row per CONTAMINATED
   * corpus id (callers anti-join to apply the cut).
   */
  def semanticDecontaminate(corpus: DataFrame, holdout: DataFrame,
                            idCol: String, embCol: String,
                            tau: Double): DataFrame =
    corpus.select(col(idCol), col(embCol).as("_e"))
      .crossJoin(broadcast(holdout.select(col(embCol).as("_h"))))
      .select(col(idCol), cosine(col("_e"), col("_h")).as("_s"))
      .filter(col("_s") >= tau)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"),
        round(max(col("_s")), 4).as("max_sim"))

  /**
   * Per-label centroids by per-DIMENSION discrete median (the lower
   * middle element) over a training frame — the deterministic stand-in
   * for a float mean, whose cross-engine sum order is unreproducible.
   * Every centroid component is an EXACT element of some input vector
   * (selection, not arithmetic), so the assignment step's doubles are
   * bit-identical on any engine that picks the same elements.
   *
   * Plan: one posexplode (N·d rows) → one shuffle on (label, dim) →
   * per-group rank selection → labels-sized centroid table. Scale note
   * (100 TB): groups are labels×d, so per-group selection sorts N/labels
   * values — for corpus-scale training frames fit the centroids on a
   * bounded hash-ranked pool first (the [[fitCodebooks]] discipline);
   * the assignment scan below is the part that must (and does) stay
   * linear and shuffle-free.
   *
   * Output: `(label, centroid: array<float>)` with components in
   * dimension order.
   */
  /**
   * [[medianCentroids]] for corpus-scale frames — the SAME per-(label,
   * dim) low-median SELECTION, computed without ranking every exploded
   * row: the r13 ScaleBench decomposition measured the rank-window
   * update at exponent 1.73 (6.6 → 357 s across 100×→1000×; a 128M-row
   * per-partition sort spilling at fixed shuffle width), and raising
   * partitions only bought 2.8× — the sort itself is the wrong shape.
   *
   * Two passes instead: (1) `approx_percentile(v, [0.49, 0.51])` per
   * (label, dim) brackets the median with 100× rank-error margin
   * (accuracy 10⁴ ⇒ error ≤ 1e-4·n ≪ 0.01·n), plus exact counts of n
   * and of rows strictly below the bracket; (2) ONLY the ≈2% of rows
   * inside each group's bracket are rank-sorted, and the
   * `(n+1) div 2 − c_low`-th of them is the exact global order
   * statistic. The approximation only narrows the candidate set — the
   * SELECTED VALUE is the same exact element [[medianCentroids]] picks
   * (spec-pinned equality), so oracles are unaffected. A bracket miss
   * (impossible within the error margin unless the sketch contract
   * breaks) would surface as a missing dimension, which the size guard
   * below turns into a loud failure, not a silent short centroid.
   */
  def medianCentroidsSelect(train: DataFrame, idCol: String,
                            vecCol: String, labelCol: String): DataFrame = {
    val dims = train.select(size(col(vecCol)).as("_dim")).first().getInt(0)
    // the selection makes THREE passes over the exploded frame (bounds
    // aggregate, below-bracket counts, candidate sort) — persist it
    // once or every pass replays the caller's whole assignment lineage
    // (the q118 lesson; measured 616 s vs 374 s unpersisted at 1000×)
    val ex = train.select(col(labelCol).as("label"), col(idCol).as("_id"),
      posexplode(col(vecCol)).as(Seq("d", "v"))).persist()
    try {
      val bounds = ex.groupBy("label", "d").agg(
          count(lit(1)).as("n"),
          expr("approx_percentile(v, array(0.49, 0.51), 10000)").as("_pb"))
        .select(col("label"), col("d"), col("n"),
          col("_pb")(0).as("_lo"), col("_pb")(1).as("_hi"))
      val withB = ex.join(broadcast(bounds), Seq("label", "d"))
      val below = withB.filter(col("v") < col("_lo"))
        .groupBy("label", "d").agg(count(lit(1)).as("c_low"))
      val w = Window.partitionBy("label", "d").orderBy(col("v"), col("_id"))
      val sel = withB
        .filter(col("v") >= col("_lo") && col("v") <= col("_hi"))
        .join(broadcast(below), Seq("label", "d"), "left")
        .withColumn("_rnk", row_number().over(w))
        .filter(col("_rnk") ===
          expr("(n + 1) div 2") - coalesce(col("c_low"), lit(0L)))
      sel.groupBy("label")
        .agg(transform(sort_array(collect_list(struct(col("d"), col("v")))),
          s => s.getField("v")).as("centroid"))
        // loud failure on a bracket miss: a short centroid would
        // silently skew every downstream assignment
        .withColumn("_ok", assert_true(size(col("centroid")) === dims,
          concat(lit("medianCentroidsSelect: centroid lost dimensions " +
            "(approx bracket missed the median) for label "),
            col("label").cast("string"))))
        .filter(col("_ok").isNull)
        .select("label", "centroid")
        // k-row result, eagerly materialized so the cache can drop —
        // nothing stays persisted past the call (the dedupClusters rule)
        .transform(Materialize(_))
    } finally ex.unpersist()
  }

  def medianCentroids(train: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, updateParts: Int = 0): DataFrame = {
    val ex0 = train.select(col(labelCol).as("label"), col(idCol).as("_id"),
      posexplode(col(vecCol)).as(Seq("d", "v")))
    // optional exchange widening for corpus-scale frames: the rank
    // window sorts within whatever width the shuffle hands it, and at
    // 128M exploded rows the fixed 32-partition sort SPILLS (measured
    // exponent 1.73, 357 s at 1000×; 512 partitions → 129 s, the
    // SCALE.md §20c A/B). Window's ClusteredDistribution accepts the
    // pre-hashed width, so no second exchange appears.
    val ex = if (updateParts > 0)
      ex0.repartition(updateParts, col("label"), col("d"))
    else ex0
    val part = Window.partitionBy("label", "d")
    val w = part.orderBy(col("v"), col("_id"))
    ex.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(part))
      .where(col("rn") === expr("(cnt + 1) div 2"))
      .groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("d"), col("v")))),
        s => s.getField("v")).as("centroid"))
  }

  /**
   * Nearest-centroid (Rocchio-step) classification: every test vector
   * scores against each centroid with the codegen'd [[cosine]] and
   * takes the argmax (ties → smaller label). This is one k-means
   * assignment step with supervised centroids — the shape used to route
   * corpus documents to topic/quality buckets at scale.
   *
   * The centroid table is COLLECTED (bounded by construction — one row
   * per label, the [[fitCodebooks]] discipline) and unrolled into one
   * projection: per-label cosines materialize once each, and the argmax
   * is a single `greatest` over `struct(cos, -label)` (lexicographic
   * struct order = cos desc, label asc on ties — the oracle's
   * `row_number` rule). The whole classification is therefore ONE
   * linear scan with zero shuffles and zero joins — a per-vector-group
   * window would shuffle N×labels rows for a 10-row argmax. NaN cosines
   * (zero vectors) sort above all reals in both engines; null vectors
   * are the caller's problem (nulls poison struct comparison).
   *
   * Output: `(id, label, assigned, cos)` — one row per test vector with
   * its true label carried through for confusion accounting.
   */
  def classifyNearestCentroid(test: DataFrame, centroids: DataFrame,
                              idCol: String, vecCol: String,
                              labelCol: String): DataFrame = {
    val cents = centroids.select(col("label").cast("int"),
        col("centroid").cast("array<float>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "classifyNearestCentroid: empty centroid table")
    val base = test.select(col(idCol).as("_cid"), col(labelCol).as("label"),
      col(vecCol).as("_e"))
    val scored = cents.zipWithIndex.foldLeft(base) { case (df, ((_, v), i)) =>
      df.withColumn(s"_c$i", cosine(col("_e"), typedlit(v)))
    }
    val packed = cents.zipWithIndex.map { case ((lab, _), i) =>
      struct(col(s"_c$i").as("c"), lit(-lab).as("nl"))
    }
    val best =
      if (packed.length == 1) packed.head else greatest(packed.toSeq: _*)
    scored
      .withColumn("_best", best)
      .select(col("_cid").as(idCol), col("label"),
        (-col("_best.nl")).as("assigned"), col("_best.c").as("cos"))
  }

  /**
   * One k-medians ASSIGN step: collect the bounded centroid table
   * (k rows — the [[fitCodebooks]] discipline) and unroll the argmax
   * into a single shuffle-free projection (the
   * [[classifyNearestCentroid]] shape — `greatest` over
   * `struct(cos, -cluster)` gives cos desc, cluster asc on ties),
   * carrying the vector through for the UPDATE that follows.
   */
  private def assignClusters(corpus: DataFrame, centroids: DataFrame,
                             idCol: String, vecCol: String): DataFrame = {
    val cents = centroids.select(col("label").cast("int"),
        col("centroid").cast("array<float>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "kMedians: empty centroid table")
    val base = corpus.select(col(idCol).as("_kid"), col(vecCol).as("_kv"))
    val scored = cents.zipWithIndex.foldLeft(base) { case (df, ((_, v), i)) =>
      df.withColumn(s"_c$i", cosine(col("_kv"), typedlit(v)))
    }
    val packed = cents.zipWithIndex.map { case ((lab, _), i) =>
      struct(col(s"_c$i").as("c"), lit(-lab).as("nl"))
    }
    val best =
      if (packed.length == 1) packed.head else greatest(packed.toSeq: _*)
    scored.withColumn("_best", best)
      .select(col("_kid"), col("_kv"),
        (-col("_best.nl")).cast("int").as("cluster"),
        col("_best.c").as("_kcos"))
  }

  /**
   * Distributed k-medians clustering — Lloyd-style alternation with the
   * [[medianCentroids]] selection update, the unsupervised sibling of
   * [[classifyNearestCentroid]]. Float-MEAN centroids are
   * reduce-order-dependent across engines (the q176 lesson), so the
   * update SELECTS per-dimension low medians instead of averaging:
   * every centroid coordinate is an exact element of some member
   * vector and both engines' assignment cosines are bit-identical.
   *
   * Init: the k smallest ids seed clusters 0..k-1 in id order. Each of
   * the `iters` rounds runs ASSIGN (argmax cosine over the collected
   * bounded-k centroid table, ties → smaller cluster) then UPDATE (one
   * posexplode + one (cluster, dim) exchange). A final ASSIGN against
   * the round-`iters` centroids produces the output. A cluster that
   * loses every member vanishes from the centroid table on both
   * engines (keep seeds spread; the planted-blob spec pins recovery).
   *
   * Scale shape: per round, one linear scan + one N·d-row exchange;
   * the per-round centroid collect severs lineage by construction, so
   * the plan cannot compound across iterations (the q118 lesson). At
   * 100 TB fit centroids on a bounded hash-ranked pool first and run
   * the final ASSIGN alone over the full corpus (the [[medianCentroids]]
   * scale note).
   *
   * Output: `(id, cluster, cos)` — cluster is the seed-rank label (as
   * long), cos the similarity to the winning centroid, rounded once.
   */
  def kMedians(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int): DataFrame = {
    val cents = kMediansCentroids(corpus, idCol, vecCol, k, iters)
    assignClusters(corpus, cents, idCol, vecCol)
      .select(col("_kid").as(idCol), col("cluster").cast("long").as("cluster"),
        (round(col("_kcos"), 4) + lit(0.0)).as("cos"))
  }

  /**
   * The centroid half of [[kMedians]] — the fitted model `(label,
   * centroid)` after `iters` Lloyd rounds, for persisting at rest
   * ([[graft.sources.Layout.Plain]]) and assigning LATER
   * batches without a refit (the IVF `ivfAssign` posture, via
   * [[classifyNearestCentroid]]): fit once on a training slice, store
   * k rows, route any future corpus against them with the shuffle-free
   * unrolled assignment.
   */
  def kMediansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"kMedians needs k >= 1, got $k")
    require(iters >= 0, s"kMedians needs iters >= 0, got $iters")
    val seedW = Window.orderBy(col(idCol))
    var cents = corpus.orderBy(col(idCol)).limit(k)
      .select((row_number().over(seedW) - 1).cast("int").as("label"),
        col(vecCol).cast("array<float>").as("centroid"))
    // update-exchange sizing (the jaccardPairsAuto posture, outcome of
    // the SCALE.md §20c decomposition): past ~1M vectors the rank
    // window's per-partition sort spills at the default shuffle width
    // (exponent 1.73), so widen the update exchange to keep each
    // partition's sort in memory (~500k exploded rows per partition —
    // the measured-2.8× fix; the sketch-based medianCentroidsSelect
    // alternative measured SLOWER here, §20c)
    val n = corpus.count()
    val dims = if (n == 0) 0
      else corpus.select(size(col(vecCol)).as("_d")).first().getInt(0)
    val parts =
      if (n * math.max(dims, 1) <= 16000000L) 0
      else math.min(2048L, n * dims / 500000L).toInt
    for (_ <- 1 to iters) {
      val assigned = assignClusters(corpus, cents, idCol, vecCol)
      cents = medianCentroids(assigned, "_kid", "_kv", "cluster", parts)
    }
    cents.select(col("label").cast("int").as("label"),
      col("centroid").cast("array<float>").as("centroid"))
  }

  /** The MRL/matryoshka serving layout: `(idCol, embCol)` plus the first
    * `prefixDim` coordinates materialized as their own `pre` column, so
    * a stored truncated-dimension first pass ([[matryoshkaTopKStored]])
    * reads prefixDim/dim of the vector bytes via Parquet column pruning
    * (SCALE.md §20). Per-row derived, nothing fitted — stored with
    * [[graft.sources.Layout.Plain]], appends are safe. */
  def withPrefix(emb: DataFrame, idCol: String, embCol: String,
                 prefixDim: Int): DataFrame =
    emb.select(col(idCol), col(embCol),
      slice(col(embCol), 1, prefixDim).as("pre"))

  /**
   * [[matryoshkaTopK]] over a STORED prefix-column layout
   * ([[withPrefix]]): stage 1
   * references ONLY `(idCol, preCol)` — Parquet column pruning keeps
   * the full vectors on disk for the prefixDim/dim fraction of the
   * scan bytes that SCALE.md §20 identified as the operator's real
   * lever — and stage 2 re-reads `(idCol, embCol)` for the m·|probes|
   * candidates only. Identical output to [[matryoshkaTopK]] on the
   * same corpus (the stored layout is not an approximation — q246 runs
   * against q240's oracle verbatim).
   */
  def matryoshkaTopKStored(stored: DataFrame, probes: DataFrame,
                           idCol: String, embCol: String, preCol: String,
                           prefixDim: Int, m: Int, k: Int): DataFrame = {
    require(prefixDim >= 1,
      s"matryoshkaTopKStored needs prefixDim >= 1, got $prefixDim")
    require(m >= k, s"matryoshkaTopKStored needs m >= k, got m=$m k=$k")
    // loud-failure guard (the medianCentroidsSelect posture): a stored
    // layout whose pre column was materialized at a different prefixDim
    // would otherwise silently score stage-1 cosines over unequal-length
    // vectors. One column-pruned first-row probe, not a scan.
    stored.select(size(col(preCol)).as("_n")).take(1).foreach { r =>
      require(r.getInt(0) == prefixDim,
        s"matryoshkaTopKStored: stored $preCol length ${r.getInt(0)} " +
          s"!= prefixDim $prefixDim — rebuild the layout " +
          "(Similarity.withPrefix) or pass the saved dim")
    }
    val pPre = probes.select(col(idCol).as("probe_id"),
      slice(col(embCol), 1, prefixDim).as("_ppre"))
    val w1 = Window.partitionBy("probe_id")
      .orderBy(col("sim_pre").desc, col("nn_id"))
    val cand = stored
      .select(col(idCol).as("nn_id"), col(preCol).as("_dpre"))
      .crossJoin(broadcast(pPre))
      .filter(col("nn_id") =!= col("probe_id"))
      .select(col("probe_id"), col("nn_id"),
        round(cosine(col("_ppre"), col("_dpre")), 4).as("sim_pre"))
      .withColumn("_prn", row_number().over(w1))
      .filter(col("_prn") <= m)
      .select("probe_id", "nn_id", "sim_pre")
    val w2 = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("nn_id"))
    stored.select(col(idCol).as("nn_id"), col(embCol).as("_dfull"))
      .join(broadcast(cand), "nn_id")
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(embCol).as("_pfull"))), "probe_id")
      .select(col("probe_id"), col("nn_id"), col("sim_pre"),
        round(cosine(col("_pfull"), col("_dfull")), 4).as("sim"))
      .withColumn("rn", row_number().over(w2).cast("long"))
      .filter(col("rn") <= k)
      .select("probe_id", "rn", "nn_id", "sim_pre", "sim")
  }

  /**
   * Matryoshka (truncated-dimension) two-stage retrieval: rank the
   * whole corpus by cosine over the first `prefixDim` coordinates (the
   * cheap pass — prefixDim/dim of the arithmetic, and of the bytes when
   * the prefix is stored as its own column), keep the top `m`
   * candidates per probe, then re-rank JUST those by full-dimension
   * cosine and cut to top `k`. The adaptive-retrieval shape for
   * MRL-style embeddings whose prefixes are themselves usable
   * embeddings.
   *
   * Both stages rank on the ROUNDED similarity with the id tiebreak
   * (the [[knnBatch]] rule), so the CANDIDATE SET — not just the final
   * ranking — is reproducible across engines and the oracle replays
   * the whole two-stage pipeline value for value. `m` = corpus size
   * degenerates to exact [[knnBatch]] on the full vectors (spec-pinned).
   *
   * Scale shape: stage 1 is the broadcast-probe scan on a narrower
   * vector (no corpus shuffle); stage 2 broadcasts the m·|probes|
   * candidate frame back against the corpus, so the full vectors of
   * non-candidates are never touched. Output:
   * `(probe_id, rn, nn_id, sim_pre, sim)` for rn <= k.
   */
  def matryoshkaTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                     embCol: String, prefixDim: Int, m: Int,
                     k: Int): DataFrame = {
    require(prefixDim >= 1, s"matryoshkaTopK needs prefixDim >= 1, got $prefixDim")
    require(m >= k, s"matryoshkaTopK needs m >= k, got m=$m k=$k")
    val pPre = probes.select(col(idCol).as("probe_id"),
      slice(col(embCol), 1, prefixDim).as("_ppre"))
    val w1 = Window.partitionBy("probe_id")
      .orderBy(col("sim_pre").desc, col("nn_id"))
    val cand = corpus
      .select(col(idCol).as("nn_id"),
        slice(col(embCol), 1, prefixDim).as("_dpre"))
      .crossJoin(broadcast(pPre))
      .filter(col("nn_id") =!= col("probe_id"))
      .select(col("probe_id"), col("nn_id"),
        round(cosine(col("_ppre"), col("_dpre")), 4).as("sim_pre"))
      .withColumn("_prn", row_number().over(w1))
      .filter(col("_prn") <= m)
      .select("probe_id", "nn_id", "sim_pre")
    val w2 = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("nn_id"))
    corpus.select(col(idCol).as("nn_id"), col(embCol).as("_dfull"))
      .join(broadcast(cand), "nn_id")
      .join(broadcast(probes.select(col(idCol).as("probe_id"),
        col(embCol).as("_pfull"))), "probe_id")
      .select(col("probe_id"), col("nn_id"), col("sim_pre"),
        round(cosine(col("_pfull"), col("_dfull")), 4).as("sim"))
      .withColumn("rn", row_number().over(w2).cast("long"))
      .filter(col("rn") <= k)
      .select("probe_id", "rn", "nn_id", "sim_pre", "sim")
  }
}
