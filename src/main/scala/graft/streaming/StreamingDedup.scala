package graft.streaming

import scala.util.Try

import graft.operators.{Dedup, Materialize}
import graft.sources.{Layout, Warehouse}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Online near-duplicate ADMISSION CONTROL — the shape a 100 TB training
 * corpus actually ingests through: documents arrive as a stream, and a
 * document is admitted only if nothing like it has been admitted
 * before. The at-rest SimHash index ([[graft.sources.Layout.SimHash]])
 * is both the memory and the output: each micro-batch probes it, and
 * the survivors' band rows are appended so later batches (and every
 * other consumer of the index) see them immediately.
 *
 * Per micro-batch:
 *   1. fingerprint + band the batch with the SAME stateless seed-derived
 *      model as the stored index ([[graft.operators.Dedup.simHashBandFrame]]
 *      — no fit, so batch and index encodings can never drift);
 *   2. resolve WITHIN-batch near-dups (banded pair join → connected
 *      components → min-id representative) so one batch cannot admit two
 *      copies of the same new document;
 *   3. probe the stored index ([[graft.operators.Dedup.simHashMatchesAgainst]]):
 *      representatives within `maxHamming` of any admitted document are
 *      rejected. Non-representatives follow their representative
 *      (transitive-closure semantics across the batch∪index graph, same
 *      closure contract as the batch dedup operators);
 *   4. commit survivors through the manifest protocol below: index
 *      append + output append, exactly once across replays.
 *
 * Cost per batch ∝ batch size, not corpus size: the index join is
 * bucket-colocated on the band key and the batch side broadcasts; the
 * append encodes only the batch (the measured-flat maintenance property,
 * BENCH_SCALED `ivf_append`/`pq_append`).
 *
 * Exactly-once: the file-source checkpoint guarantees each input file
 * is processed once per query lifetime, and the per-batch MANIFEST
 * protocol ([[commitAdmission]] / [[recoverPartialCommit]]) closes the
 * mid-batch crash windows. The hazard it exists for: the index append
 * IS the admission memory, so a replay that recomputes after the index
 * append sees the batch's own rows and self-rejects every survivor —
 * without the manifest, those survivors would silently never reach
 * `outPath`. With it, every crash point replays to exactly-once
 * index + output rows (spec-proven by replaying each window).
 */
object StreamingDedup {

  // ------------------------------------------------------------------
  // Exactly-once commit protocol (shared by all five admission axes)
  // ------------------------------------------------------------------

  /** Per-batch commit-manifest directory — underscore-prefixed so
    * parquet readers of `outPath` never list it. Layout is a contract
    * (the crash-window spec plants manifests here). */
  private[streaming] def manifestDir(outPath: String, batchId: Long): String =
    s"$outPath/_admit_manifests/batch_$batchId"

  private def fsOf(spark: SparkSession, dir: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /**
   * Commit a batch's admission decision so survivors land in the index
   * AND the output exactly once, even across foreachBatch replays.
   *
   * With a `batchId` (the streaming path) the write order is
   *   manifest (batch-keyed, Overwrite → idempotent) →
   *   index append → output append → manifest delete,
   * and [[recoverPartialCommit]] on the next replay finishes whatever
   * suffix a crash cut off, reading the decision back from the
   * manifest instead of recomputing it (a recompute after the index
   * append self-rejects the whole batch — the loss window this
   * protocol closes). Index and output rows are derived FROM the
   * re-read manifest, so all three artifacts carry the same row set.
   *
   * Without a `batchId` (the direct batch API) the caller owns retry
   * semantics: plain index append then output append, documented as
   * at-least-once into the index / at-most-once into the output on a
   * mid-commit crash.
   */
  private def commitAdmission(survivors: DataFrame, outPath: String,
                              batchId: Option[Long],
                              appendIndex: DataFrame => Unit): Unit = {
    val spark = survivors.sparkSession
    batchId match {
      case Some(id) =>
        val dir = manifestDir(outPath, id)
        survivors.write.mode(SaveMode.Overwrite).parquet(dir)
        // the manifest IS the commit source (explicit schema: an empty
        // decision writes no part files, and the read must still work)
        val s = spark.read.schema(survivors.schema).parquet(dir)
        appendIndex(s)
        s.write.mode(SaveMode.Append).parquet(outPath)
        val (fs, p) = fsOf(spark, dir)
        fs.delete(p, true)
      case None =>
        appendIndex(survivors)
        survivors.write.mode(SaveMode.Append).parquet(outPath)
    }
  }

  /**
   * Replay guard, called FIRST by every admission round that has a
   * `batchId`: if a previous attempt of this batch left a committed
   * manifest, the admission decision already exists — finish the index
   * and output writes from the manifest and report the batch handled
   * (`true`). `ensureIndexed` must append each index table the crash
   * cut off and skip each that committed; its id-presence probe is a
   * full-table semi-join (indexes bucket by gram/band key, not id),
   * which is fine once per crash and unaffordable once per batch —
   * which is why it runs only here, never on the hot path.
   *
   * Crash-window walk (all spec-replayed): torn manifest (no _SUCCESS)
   * → wiped, recompute is safe because the index was not yet touched;
   * manifest committed but index/output missing → both finished here,
   * the output append anti-joined against rows already present;
   * everything committed but the manifest delete or the checkpoint
   * commit lost → the re-run is a no-op (or, with the manifest gone, a
   * recompute that self-rejects into an EMPTY decision — correct,
   * because the output already holds the survivors).
   */
  private def recoverPartialCommit(spark: SparkSession, outPath: String,
                                   batchId: Long, idCol: String,
                                   ensureIndexed: DataFrame => Unit): Boolean = {
    val dir = manifestDir(outPath, batchId)
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(new Path(p, "_SUCCESS"))) {
      // torn manifest write: it carries no decision; wipe it and let
      // the round recompute against the untouched index
      if (fs.exists(p)) fs.delete(p, true)
      return false
    }
    // a committed manifest with zero part files is an EMPTY decision
    // (no survivors) — nothing to index or output
    Try(spark.read.parquet(dir)).toOption.filter(!_.isEmpty).foreach { s =>
      ensureIndexed(s)
      val existing = Try(spark.read.parquet(outPath).select(idCol)).toOption
      val missing = existing.fold(s)(e => s.join(e, Seq(idCol), "left_anti"))
      missing.write.mode(SaveMode.Append).parquet(outPath)
    }
    fs.delete(p, true)
    true
  }

  /** Recovery-only probe: does `table` already hold any of `ids`?
    * Sound under job-level commit atomicity: one index-append job
    * either published all its rows or none, so ANY id present means
    * the append committed. (All ids absent also covers the degenerate
    * all-survivors-unencodable batch — re-appending zero rows is a
    * no-op, so the false "not appended" is harmless.) */
  private def indexHasIds(spark: SparkSession, table: String,
                          ids: DataFrame, idCol: String,
                          tableIdCol: String): Boolean =
    spark.catalog.tableExists(table) && {
      val t = spark.table(table)
      !t.join(ids, t(tableIdCol) === ids(idCol), "left_semi").isEmpty
    }

  // ------------------------------------------------------------------
  // Axis 1: SimHash (structure)
  // ------------------------------------------------------------------

  def simHashAdmission(docs: DataFrame, idCol: String, textCol: String,
                       indexTable: String, outPath: String,
                       checkpointDir: String,
                       maxHamming: Int = 16,
                       indexBuckets: Int = 32): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatch(batch, idCol, textCol, indexTable, outPath,
          maxHamming, indexBuckets, Some(bid))
      }
      .start()

  /** One admission round — also the BATCH incremental-dedup API (ship a
    * day's partition against the standing index without a stream).
    * Pass a `batchId` to get the manifest commit protocol; without one
    * the caller owns mid-commit retry semantics. */
  def admitBatch(batch: DataFrame, idCol: String, textCol: String,
                 indexTable: String, outPath: String,
                 maxHamming: Int = 16, indexBuckets: Int = 32,
                 batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    // index rows derive from whatever survivor frame the commit hands
    // over (live or manifest-read) — stateless encode, cannot drift
    def appendIdx(s: DataFrame): Unit =
      Warehouse.append(Layout.SimHash.copy(floor = indexBuckets), indexTable,
        Dedup.simHashBandFrame(s, idCol, split(col(textCol), " ")))
    def ensureIdx(s: DataFrame): Unit =
      if (!indexHasIds(spark, indexTable, s.select(idCol), idCol, idCol))
        appendIdx(s)
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol, ensureIdx)))
      return
    val b = batch.persist()
    try {
      val bands = Dedup.simHashBandFrame(b, idCol,
        split(col(textCol), " ")).persist()
      try {
        // within-batch: one representative per near-dup cluster
        val within = Dedup.simHashNearDupPairsFrom(bands, idCol, maxHamming)
        val dropWithin = Dedup.dedupClustersStar(within, "da", "db")
          .filter(col("node") =!= col("lbl"))
          .select(col("node").as(idCol))
        val repBands = bands.join(dropWithin, Seq(idCol), "left_anti")
        // vs the standing index: reject anything already admitted.
        // Materialize (eager) SEVERS the plan from the index table
        // before we append to it below — a lazy plan would re-probe the
        // table at output-write time, find the survivors' own
        // just-appended bands, and self-reject every admitted document
        // (persist() is not enough: the table append recaches dependent
        // plans).
        val survivorBands = (
          if (spark.catalog.tableExists(indexTable)) {
            val hit = Dedup.simHashMatchesAgainst(
              repBands, spark.table(indexTable), idCol, maxHamming)
            repBands.join(hit, Seq(idCol), "left_anti")
          } else repBands
        ).transform(Materialize(_))
        val survivorIds = survivorBands.select(idCol).distinct()
        val survivors = b.join(survivorIds, Seq(idCol), "left_semi")
        commitAdmission(survivors, outPath, batchId, appendIdx)
      } finally bands.unpersist()
    } finally b.unpersist()
  }

  // ------------------------------------------------------------------
  // Axis 2: MinHash (content)
  // ------------------------------------------------------------------

  /**
   * MinHash-LSH admission — [[simHashAdmission]]'s Jaccard twin over the
   * at-rest MinHash index ([[graft.sources.Layout.minHash]]):
   * a document is admitted only if no already-admitted document has
   * word-n-gram Jaccard ≥ `threshold` with it. Same four-step batch
   * shape (stateless encode → within-batch dedup → index probe →
   * manifest commit), same exactly-once contract.
   */
  def minHashAdmission(docs: DataFrame, idCol: String, textCol: String,
                       indexTable: String, outPath: String,
                       checkpointDir: String,
                       n: Int = 3, threshold: Double = 0.6,
                       indexBuckets: Int = 32): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatchMinHash(batch, idCol, textCol, indexTable, outPath,
          n, threshold, indexBuckets, Some(bid))
      }
      .start()

  /** One MinHash admission round — also the BATCH incremental
    * fuzzy-dedup API (ship a day's partition against the standing index
    * without a stream). */
  def admitBatchMinHash(batch: DataFrame, idCol: String, textCol: String,
                        indexTable: String, outPath: String,
                        n: Int = 3, threshold: Double = 0.6,
                        indexBuckets: Int = 32,
                        batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val layout = Layout.minHash(idCol).copy(floor = indexBuckets)
    val Seq((_, bandLayout), (shTable, shLayout)) = layout.parts(indexTable)
    def appendIdx(s: DataFrame): Unit = {
      val sh = Dedup.shingles(s, idCol, textCol, n)
      Warehouse.append(layout, indexTable,
        Dedup.minHashBandFrameFromShingles(sh, idCol), sh)
    }
    // two tables, two commit points: repair each independently so a
    // crash between the band and shingle writes never double-appends
    // the committed half
    def ensureIdx(s: DataFrame): Unit = {
      val ids = s.select(idCol)
      lazy val sh = Dedup.shingles(s, idCol, textCol, n)
      if (!indexHasIds(spark, indexTable, ids, idCol, idCol))
        Warehouse.append(bandLayout, indexTable,
          Dedup.minHashBandFrameFromShingles(sh, idCol))
      if (!indexHasIds(spark, shTable, ids, idCol, idCol))
        Warehouse.append(shLayout, shTable, sh)
    }
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol, ensureIdx)))
      return
    val b = batch.persist()
    try {
      val sh = Dedup.shingles(b, idCol, textCol, n).persist()
      // bands derive from the persisted shingle frame — shingling the
      // batch once, not twice
      val bands = Dedup.minHashBandFrameFromShingles(sh, idCol).persist()
      try {
        // within-batch: one representative per fuzzy-dup cluster
        val within = Dedup.minHashDedupPairsFrom(bands, sh, idCol, threshold)
        val dropWithin = Dedup.dedupClustersStar(within, "da", "db")
          .filter(col("node") =!= col("lbl"))
          .select(col("node").as(idCol))
        val repBands = bands.join(dropWithin, Seq(idCol), "left_anti")
        val repSh = sh.join(dropWithin, Seq(idCol), "left_anti")
        // vs the standing index. Rejection is tracked by ID (not by
        // surviving band rows): a document with fewer than n words has
        // NO shingles and therefore no band rows, but it is not a
        // duplicate of anything and must still be admitted.
        // Materialize SEVERS the rejected-id plan from the index
        // tables before the append below, exactly as the SimHash path
        // documents (a lazy plan would re-probe the tables post-append
        // and self-reject every admitted document).
        val rejectedIds = (
          if (spark.catalog.tableExists(indexTable)) {
            val hit = Dedup.minHashMatchesAgainst(
              repBands, repSh,
              spark.table(indexTable), spark.table(shTable),
              idCol, threshold)
            dropWithin.union(hit)
          } else dropWithin
        ).transform(Materialize(_))
        val survivors = b.join(rejectedIds, Seq(idCol), "left_anti")
        commitAdmission(survivors, outPath, batchId, appendIdx)
      } finally { bands.unpersist(); sh.unpersist() }
    } finally b.unpersist()
  }

  // ------------------------------------------------------------------
  // Axis 3: lexical cosine (vocabulary)
  // ------------------------------------------------------------------

  /**
   * Lexical-cosine admission — the third member of the admission trio
   * (SimHash hamming, MinHash Jaccard, bag-of-words cosine), over the
   * at-rest lexical index ([[graft.sources.Layout.Lexical]]):
   * a document is admitted only if no already-admitted document has
   * exact tf-cosine ≥ `threshold` with it. Same four-step batch shape,
   * same exactly-once contract. The df cap is corpus-local by design:
   * the standing index was capped over its build corpus, each appended
   * batch caps within itself (a batch is its own small corpus — the
   * same stop words emerge wherever the distribution matches).
   */
  def lexicalAdmission(docs: DataFrame, idCol: String, textCol: String,
                       indexTable: String, outPath: String,
                       checkpointDir: String,
                       threshold: Double = 0.8, maxDf: Long = 400L,
                       indexBuckets: Int = 32): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatchLexical(batch, idCol, textCol, indexTable, outPath,
          threshold, maxDf, indexBuckets, Some(bid))
      }
      .start()

  /** One lexical-cosine admission round — also the BATCH incremental
    * API (ship a day's partition against the standing index without a
    * stream). */
  def admitBatchLexical(batch: DataFrame, idCol: String, textCol: String,
                        indexTable: String, outPath: String,
                        threshold: Double = 0.8, maxDf: Long = 400L,
                        indexBuckets: Int = 32,
                        batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val layout = Layout.Lexical.copy(floor = indexBuckets)
    val Seq((_, tfLayout), (normsTable, normsLayout)) =
      layout.parts(indexTable)
    // A doc with EMPTY text has no tf rows — admitted, unmatchable,
    // the per-row degrade contract.
    def appendIdx(s: DataFrame): Unit = {
      val sTf = Dedup.cappedLexicalTf(s, idCol, textCol, maxDf).persist()
      try Warehouse.append(layout, indexTable, sTf, Dedup.lexicalNorms(sTf))
      finally sTf.unpersist()
    }
    def ensureIdx(s: DataFrame): Unit = {
      val ids = s.select(idCol)
      val sTf = Dedup.cappedLexicalTf(s, idCol, textCol, maxDf).persist()
      try {
        if (!indexHasIds(spark, indexTable, ids, idCol, "doc_id"))
          Warehouse.append(tfLayout, indexTable, sTf)
        if (!indexHasIds(spark, normsTable, ids, idCol, "doc_id"))
          Warehouse.append(normsLayout, normsTable, Dedup.lexicalNorms(sTf))
      } finally sTf.unpersist()
    }
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol, ensureIdx)))
      return
    val b = batch.persist()
    try {
      // within-batch: one representative per cosine cluster
      val within = Dedup.lexicalCosinePairs(b, idCol, textCol,
        threshold, maxDf)
      val dropWithin = Dedup.dedupClustersStar(within, "da", "db")
        .filter(col("node") =!= col("lbl"))
        .select(col("node").as(idCol))
      val reps = b.join(dropWithin, Seq(idCol), "left_anti")
      // vs the standing index; Materialize severs the rejected-id
      // plan from the index tables before the append (the MinHash
      // path's self-rejection hazard)
      val rejectedIds = (
        if (spark.catalog.tableExists(indexTable)) {
          val hit = Dedup.lexicalCosineAgainst(reps, idCol, textCol,
              spark.table(indexTable), spark.table(normsTable),
              threshold)
            .select(col("probe_id").as(idCol)).distinct()
          dropWithin.union(hit)
        } else dropWithin
      ).transform(Materialize(_))
      val survivors = b.join(rejectedIds, Seq(idCol), "left_anti")
      commitAdmission(survivors, outPath, batchId, appendIdx)
    } finally b.unpersist()
  }

  // ------------------------------------------------------------------
  // Axis 4: semantic / embedding cosine (meaning)
  // ------------------------------------------------------------------

  /**
   * SEMANTIC admission — the fourth member of the quartet (SimHash =
   * structure, MinHash = content, lexical = vocabulary, this =
   * MEANING): a document is admitted only if no admitted document's
   * EMBEDDING sits within `threshold` cosine, against the at-rest
   * sign-LSH index ([[graft.sources.Layout.Ann]] layout —
   * the bucket frame carries raw embeddings, so candidates from the
   * bucket-colocated join verify by EXACT cosine; admission is never
   * decided on a hash collision alone). The SemDeDup corpus posture,
   * run at the door instead of as a batch sweep.
   *
   * Same law as the other three: within-batch representatives first
   * ([[graft.operators.Dedup.embeddingNearDupPairs]] → star CC →
   * min-id rep), the index rejects across batches, survivors' bucket
   * rows append (stateless seed-derived model — batch and index
   * encodings can never drift), cost ∝ batch.
   */
  def semanticAdmission(docs: DataFrame, idCol: String, embCol: String,
                        indexTable: String, outPath: String,
                        checkpointDir: String, threshold: Double = 0.9,
                        tables: Int = 8, bits: Int = 8, dim: Int = 64,
                        indexBuckets: Int = 16): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatchSemantic(batch, idCol, embCol, indexTable, outPath,
          threshold, tables, bits, dim, indexBuckets, Some(bid))
      }
      .start()

  /** One semantic admission round — also the BATCH incremental API. */
  def admitBatchSemantic(batch: DataFrame, idCol: String, embCol: String,
                         indexTable: String, outPath: String,
                         threshold: Double = 0.9, tables: Int = 8,
                         bits: Int = 8, dim: Int = 64,
                         indexBuckets: Int = 16,
                         batchId: Option[Long] = None): Unit = {
    import graft.operators.Similarity
    val spark = batch.sparkSession
    // null embeddings have no bucket rows — admitted, unmatchable,
    // the per-row degrade contract
    def appendIdx(s: DataFrame): Unit =
      Warehouse.append(Layout.Ann.copy(floor = indexBuckets), indexTable,
        Similarity.annBucketFrame(s, idCol, embCol, tables, bits, dim))
    def ensureIdx(s: DataFrame): Unit =
      if (!indexHasIds(spark, indexTable, s.select(idCol), idCol, "id"))
        appendIdx(s)
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol, ensureIdx)))
      return
    val b = batch.persist()
    try {
      // within-batch: one representative per cosine-≥threshold cluster
      val within = Dedup.embeddingNearDupPairs(b, idCol, embCol,
        threshold, tables, bits, dim)
      val dropWithin = Dedup.dedupClustersStar(within, "da", "db")
        .filter(col("node") =!= col("lbl"))
        .select(col("node").as(idCol))
      val reps = b.join(dropWithin, Seq(idCol), "left_anti")
      // vs the standing index: shared bucket → exact cosine ≥ threshold
      // (raw embeddings ride the stored frame); Materialize severs
      // the rejected-id plan from the index table before the append
      val rejectedIds = (
        if (spark.catalog.tableExists(indexTable)) {
          val probeFrame = reps.select(col(idCol).as("_pid"),
            col(embCol).as("_e_p"),
            posexplode(Similarity.lshKeysArray(tables, bits, dim)(
              col(embCol))).as(Seq("table", "key")))
          val hit = spark.table(indexTable)
            .join(probeFrame, Seq("table", "key"))
            .filter(Similarity.cosine(col("emb"), col("_e_p")) >= threshold)
            .select(col("_pid").as(idCol)).distinct()
          dropWithin.union(hit)
        } else dropWithin
      ).transform(Materialize(_))
      val survivors = b.join(rejectedIds, Seq(idCol), "left_anti")
      commitAdmission(survivors, outPath, batchId, appendIdx)
    } finally b.unpersist()
  }

  // ------------------------------------------------------------------
  // Axis 5: trigram span containment (verbatim spans)
  // ------------------------------------------------------------------

  /**
   * SPAN admission — the FIFTH admission axis (SimHash = structure,
   * MinHash = content, lexical = vocabulary, semantic = meaning, this
   * = VERBATIM SPANS): a document is rejected when ≥ `threshold` of
   * its distinct character trigrams are contained in one already-
   * admitted document — the near-verbatim-copy / quoted-wholesale
   * signal that token-set axes dilute (a copy with light edits keeps
   * almost all its char grams). The standing memory is the q225
   * trigram index ([[graft.sources.Layout.Trigram]]);
   * survivors' postings append blind.
   *
   * Hot grams are df-capped on BOTH sides (batch df and standing df
   * among the probed grams only — the latter a bucket-pruned count,
   * never an index scan): stop-word-like grams ("he ", " th") would
   * otherwise fan the containment join corpus-wide, the q52
   * `maxShingleDf` lesson. Containment is computed over the capped
   * gram sets; a doc whose every gram is capped away (pathological
   * boilerplate) has no containment evidence and is admitted — the
   * per-row degrade contract.
   */
  def trigramAdmission(docs: DataFrame, idCol: String, textCol: String,
                       indexTable: String, outPath: String,
                       checkpointDir: String,
                       threshold: Double = 0.9, maxDf: Long = 1000L,
                       indexBuckets: Int = 32): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatchTrigram(batch, idCol, textCol, indexTable, outPath,
          threshold, maxDf, indexBuckets, Some(bid))
      }
      .start()

  /** One span-containment admission round — also the BATCH incremental
    * API. */
  def admitBatchTrigram(batch: DataFrame, idCol: String, textCol: String,
                        indexTable: String, outPath: String,
                        threshold: Double = 0.9, maxDf: Long = 1000L,
                        indexBuckets: Int = 32,
                        batchId: Option[Long] = None): Unit = {
    import graft.operators.Search
    val spark = batch.sparkSession
    // a sub-3-char doc has no gram rows — admitted, unmatchable, the
    // per-row degrade contract
    def appendIdx(s: DataFrame): Unit =
      Warehouse.append(Layout.Trigram.copy(floor = indexBuckets), indexTable,
        Search.trigramPostings(s, idCol, textCol))
    def ensureIdx(s: DataFrame): Unit =
      if (!indexHasIds(spark, indexTable, s.select(idCol), idCol, "doc_id"))
        appendIdx(s)
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol, ensureIdx)))
      return
    val b = batch.persist()
    try {
      val bp = Search.trigramPostings(b, idCol, textCol)
      val bCapped = bp.join(
          bp.groupBy("gram").agg(count(lit(1)).as("_df"))
            .filter(col("_df") <= maxDf).select("gram"), "gram")
        .persist()
      val sizes = bCapped.groupBy("doc_id").agg(count(lit(1)).as("_n"))
      // within-batch: newer doc contained in an older one → drop newer
      val dropWithin = bCapped.select(col("doc_id").as("_nb"), col("gram"))
        .join(bCapped.select(col("doc_id").as("_ob"), col("gram")), "gram")
        .filter(col("_nb") > col("_ob"))
        .groupBy("_nb", "_ob").agg(count(lit(1)).as("_common"))
        .join(sizes.withColumnRenamed("doc_id", "_nb"), "_nb")
        .filter(col("_common") >= col("_n") * threshold)
        .select(col("_nb").as(idCol)).distinct()
      // vs the standing index: bucket-pruned gram lookups, standing-df
      // cap over the probed grams only, containment per (probe, stored)
      val rejectedIds = (
        if (spark.catalog.tableExists(indexTable)) {
          val probeGrams = bCapped
            .join(dropWithin.withColumnRenamed(idCol, "doc_id"),
              Seq("doc_id"), "left_anti")
          val probed = spark.table(indexTable)
            .join(probeGrams.select("gram").distinct(), "gram")
            .persist()
          try {
            val kept = probed.join(
              probed.groupBy("gram").agg(count(lit(1)).as("_sdf"))
                .filter(col("_sdf") <= maxDf).select("gram"), "gram")
            val hit = probeGrams
              .select(col("doc_id").as("_pid"), col("gram"))
              .join(kept.select(col("doc_id").as("_sid"), col("gram")), "gram")
              .groupBy("_pid", "_sid").agg(count(lit(1)).as("_common"))
              .join(sizes.withColumnRenamed("doc_id", "_pid"), "_pid")
              .filter(col("_common") >= col("_n") * threshold)
              .select(col("_pid").as(idCol)).distinct()
            dropWithin.union(hit).transform(Materialize(_))
          } finally probed.unpersist()
        } else Materialize(dropWithin)
      )
      val survivors = b.join(rejectedIds, Seq(idCol), "left_anti")
      commitAdmission(survivors, outPath, batchId, appendIdx)
      bCapped.unpersist()
    } finally b.unpersist()
  }

  // ------------------------------------------------------------------
  // Axis 6: winnowing fingerprints (shared-run plagiarism/near-dup)
  // ------------------------------------------------------------------

  /**
   * Winnowing admission — the SIXTH axis (SimHash hamming, MinHash
   * Jaccard, lexical cosine, semantic cosine, trigram containment,
   * and now MOSS-style shared-fingerprint matching), over the at-rest
   * winnowing index ([[graft.sources.Layout.Winnow]]): a
   * document is admitted only if no already-admitted document shares
   * ≥ `minShared` of its selected fingerprint hashes
   * ([[graft.operators.Dedup.winnowingFingerprints]], screened at
   * df ≤ `maxDf` within each batch — the corpus-local cap discipline).
   * Same four-step batch shape (stateless selection → within-batch
   * cluster reps → index probe → manifest commit), same exactly-once
   * contract.
   */
  def winnowAdmission(docs: DataFrame, idCol: String, textCol: String,
                      indexTable: String, outPath: String,
                      checkpointDir: String,
                      k: Int = 3, w: Int = 4, maxDf: Long = 200L,
                      minShared: Long = 3L,
                      indexBuckets: Int = 32): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatchWinnow(batch, idCol, textCol, indexTable, outPath,
          k, w, maxDf, minShared, indexBuckets, Some(bid))
      }
      .start()

  /** One winnowing admission round — also the BATCH incremental API
    * (ship a day's partition against the standing index without a
    * stream). */
  def admitBatchWinnow(batch: DataFrame, idCol: String, textCol: String,
                       indexTable: String, outPath: String,
                       k: Int = 3, w: Int = 4, maxDf: Long = 200L,
                       minShared: Long = 3L,
                       indexBuckets: Int = 32,
                       batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    // screened selection of a frame — the batch is its own small
    // corpus for the df cap (the lexicalAdmission precedent);
    // materialized because the selection feeds the screen AND every
    // downstream consumer (the q255 four-executions lesson)
    def selOf(s: DataFrame): DataFrame = {
      val sel = graft.operators.Dedup
        .winnowingFingerprints(s, idCol, textCol, k, w)
        .select(col(idCol), col("fp_hash")).distinct()
        .transform(Materialize(_))
      val rare = sel.groupBy("fp_hash").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select("fp_hash")
      sel.join(rare, "fp_hash")
    }
    def appendIdx(s: DataFrame): Unit =
      Warehouse.append(Layout.Winnow.copy(floor = indexBuckets), indexTable,
        selOf(s))
    def ensureIdx(s: DataFrame): Unit =
      if (!indexHasIds(spark, indexTable, s.select(idCol), idCol, idCol))
        appendIdx(s)
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol, ensureIdx)))
      return
    val b = batch.persist()
    try {
      val kept = Materialize(selOf(b))
      // within-batch: one representative per shared-fingerprint cluster
      val pairs = kept.select(col(idCol).as("da"), col("fp_hash"))
        .join(kept.select(col(idCol).as("db"), col("fp_hash")), "fp_hash")
        .filter(col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).as("_n"))
        .filter(col("_n") >= minShared)
        .select("da", "db")
      val dropWithin = graft.operators.Dedup
        .dedupClustersStar(pairs, "da", "db")
        .filter(col("node") =!= col("lbl"))
        .select(col("node").as(idCol))
      // vs the standing index (rejection tracked by ID — a doc below
      // k+w-1 words has no selection rows but is not a duplicate and
      // must still be admitted; the minHash-axis contract)
      val rejectedIds = (
        if (spark.catalog.tableExists(indexTable)) {
          val repSel = kept.join(dropWithin, Seq(idCol), "left_anti")
          val hit = graft.operators.Dedup.winnowMatchesAgainst(
              repSel, spark.table(indexTable), idCol, minShared)
            .select(col("probe_id").as(idCol)).distinct()
          dropWithin.union(hit)
        } else dropWithin
      ).transform(Materialize(_))
      val survivors = b.join(rejectedIds, Seq(idCol), "left_anti")
      commitAdmission(survivors, outPath, batchId, appendIdx)
    } finally b.unpersist()
  }

  // ------------------------------------------------------------------
  // Axis 7: per-domain document cap (source governance — the C4/
  // RefinedWeb "limit docs per domain" rule enforced at the ingest
  // door, not similarity-based like axes 1–6)
  // ------------------------------------------------------------------

  /** Merged per-domain admitted counts from the standing partials
    * table ([[graft.sources.Layout.DomainCounts]] layout).
    * Stamp namespaces (the r15-advice collision fix): batch_id >= 0 is
    * RESERVED for admission rounds — replayed appends collapse via the
    * stamp before the sum, and the committed-probe in
    * [[admitBatchDomainCap]] treats a present stamp as proof the round
    * committed. batch_id < 0 is the seed/unstamped-history namespace:
    * rows always SUM (two unstamped rounds are two real contributions,
    * not one replay), are never probed, and carry no exactly-once
    * guarantee. Caller-seeded history MUST therefore use negative
    * stamps — a seed stamped 0 would silently swallow structured
    * streaming's first micro-batch (bids start at 0). Both aggregates
    * run exchange-free off the reg_domain-bucketed scan (the first
    * groups on a superset of the bucket key, the second on the key
    * itself). An absent table reads as zero everywhere. */
  def domainCountsOf(spark: SparkSession, table: String): DataFrame =
    if (spark.catalog.tableExists(table))
      spark.table(table)
        .groupBy("reg_domain", "batch_id")
        .agg(max("n").as("_n1"), sum("n").as("_ns"))
        .groupBy("reg_domain")
        .agg(sum(when(col("batch_id") >= 0, col("_n1"))
          .otherwise(col("_ns"))).as("n_used"))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("reg_domain",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_used",
            org.apache.spark.sql.types.LongType))))

  /**
   * Streaming per-domain cap admission: each micro-batch of documents
   * (carrying a URL column) is admitted up to `cap` documents per
   * registered domain ACROSS THE WHOLE HISTORY — the standing state is
   * the per-domain admitted-count partial table, blind-appended per
   * batch and merged on read (never rewritten). Within a batch, the
   * winners are the content-keyed `(md5(id), id)` rank — reproducible
   * across replays, so the exactly-once manifest protocol applies
   * unchanged. Docs whose URL fails to parse land in the
   * `(invalid-url)` quarantine domain and compete for ITS cap — never
   * silently dropped, never uncounted.
   */
  def domainCapAdmission(docs: DataFrame, idCol: String, urlCol: String,
                         countsTable: String, outPath: String,
                         checkpointDir: String, cap: Long,
                         buckets: Int = 8,
                         compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatchDomainCap(batch, idCol, urlCol, countsTable, outPath,
          cap, buckets, Some(bid))
        // maintenance cadence (r15-verdict #5): every blind append lays
        // one more file per bucket, so a long-lived admission stream
        // accretes k files/bucket after k batches — compact every N
        // batches through the generic staging-rename path. Runs AFTER
        // the batch commits; a crash mid-compaction leaves a complete
        // queryable copy under some name (compactTable's discipline),
        // and the batch's stamp/manifest state is already final, so
        // replay semantics are untouched. Merge-on-read is provably
        // unchanged across a mid-stream compaction (spec).
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0 &&
            batch.sparkSession.catalog.tableExists(countsTable)) {
          Warehouse.compactTable(batch.sparkSession, countsTable)
          ()
        }
      }
      .start()

  /** One domain-cap admission round — also the BATCH incremental API.
    * Cost shape: URL parse is map-only, the standing read is
    * domain-cardinality-sized (bucketed, exchange-free merge), and the
    * only batch-sized shuffle is the per-domain rank window. */
  def admitBatchDomainCap(batch: DataFrame, idCol: String, urlCol: String,
                          countsTable: String, outPath: String, cap: Long,
                          buckets: Int = 8,
                          batchId: Option[Long] = None): Unit = {
    require(cap >= 0, s"cap must be >= 0, got $cap")
    // non-negative stamps are the admission-round namespace (see
    // domainCountsOf) — a negative stamp here would masquerade as
    // seeded history and lose the replay collapse + committed-probe
    require(batchId.forall(_ >= 0),
      s"batchId must be >= 0 (negative stamps are the seeded-history " +
        s"namespace), got $batchId")
    val spark = batch.sparkSession
    def domOf(s: DataFrame): DataFrame =
      graft.operators.Url.urlParts(s.select(col(idCol), col(urlCol)),
          col(urlCol))
        .select(col(idCol),
          coalesce(col("reg_domain"), lit("(invalid-url)"))
            .as("reg_domain"))
    // unstamped (batchId=None) rounds land in the negative namespace
    // at the -1 sentinel: domainCountsOf SUMS every row in a negative
    // stamp group, so two unstamped rounds both count (the old
    // dropDuplicates merge collapsed distinct -1 rounds to one
    // arbitrary row per domain and the lifetime cap over-admitted —
    // the r15-advice bug). The price is documented: unstamped rounds
    // get no replay collapse and no committed-probe, i.e. no
    // exactly-once — stamp your batches.
    val stamp = batchId.getOrElse(-1L)
    def appendCounts(s: DataFrame): Unit =
      Warehouse.append(Layout.DomainCounts.copy(floor = buckets), countsTable,
        domOf(s).groupBy("reg_domain").agg(count(lit(1)).as("n"))
          .withColumn("batch_id", lit(stamp)))
    // recovery probe: counts rows are batch-stamped, so presence of
    // this batch's stamp means the counts append committed (and a
    // double append would collapse on read anyway — belt and braces)
    def ensureCounts(s: DataFrame): Unit =
      if (!spark.catalog.tableExists(countsTable) ||
          spark.table(countsTable)
            .filter(col("batch_id") === batchId.get).isEmpty)
        appendCounts(s)
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol,
        ensureCounts)))
      return
    // replay guard the similarity axes get for free (a replayed doc
    // matches itself in the index and self-rejects) but quota cannot
    // (the counts don't know WHICH ids were admitted, so a re-run with
    // remaining quota would re-admit): the commit order writes this
    // batch's counts stamp BEFORE the output append, and a crash
    // between the two leaves the manifest for recoverPartialCommit —
    // so stamp present with NO manifest proves the batch fully
    // committed. Skip it. (The probe is a domain-cardinality-sized
    // bucketed scan, not an output read.)
    if (batchId.exists(id => spark.catalog.tableExists(countsTable) &&
        !spark.table(countsTable).filter(col("batch_id") === id).isEmpty))
      return
    val b = batch.persist()
    try {
      val ranked = domOf(b).withColumn("_rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("reg_domain")
          .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      // Materialize (eager): the decision's lineage READS the
      // standing counts table that commitAdmission is about to APPEND
      // to — left lazy, the output write would re-plan against the
      // post-append counts and the batch's own quota would deduct
      // against itself (the rejectedIds lesson, quota flavor)
      val admitIds = ranked
        .join(domainCountsOf(spark, countsTable), Seq("reg_domain"), "left")
        .filter(col("_rk") <=
          greatest(lit(cap) - coalesce(col("n_used"), lit(0L)), lit(0L)))
        .select(idCol)
        .transform(Materialize(_))
      val survivors = b.join(admitIds, Seq(idCol), "left_semi")
      commitAdmission(survivors, outPath, batchId, appendCounts)
    } finally b.unpersist()
  }

  // ------------------------------------------------------------------
  // Axis 8: canonical-URL exact dedup (the cheap PRE-content gate —
  // every crawler pipeline's first reject: same URL modulo fragments,
  // tracking params, IDN/percent encoding ⇒ same fetch, drop before
  // paying shingles or embeddings)
  // ------------------------------------------------------------------

  /**
   * URL-level exact-dedup admission: each micro-batch keeps ONE
   * document per canonical URL key
   * ([[graft.operators.Url.canonicalizeUrlExt]] — fragment/tracking
   * strip + IDN + percent normalization) and rejects keys already in
   * the standing index ([[graft.sources.Layout.UrlKeys]],
   * bucketed by key so the probe anti-join shuffles only the batch).
   * Within-batch winners are the content-keyed `(md5(id), id)` rank —
   * reproducible across replays; survivors' keys blind-append to the
   * index so the NEXT batch sees them. Same manifest exactly-once
   * protocol as the similarity axes (a replayed doc's key matches
   * itself in the index and self-rejects). A NULL url gets the
   * per-doc quarantine key `(invalid-url):<id>` (always passes URL
   * dedup, flows on to the content axes); a non-URL string
   * canonicalizes to itself — two docs with the same garbage string
   * are the same fetch and DO collapse.
   */
  def urlDedupAdmission(docs: DataFrame, idCol: String, urlCol: String,
                        keysTable: String, outPath: String,
                        checkpointDir: String,
                        keyBuckets: Int = 32): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatchUrlDedup(batch, idCol, urlCol, keysTable, outPath,
          keyBuckets, Some(bid))
      }
      .start()

  /** One URL-dedup admission round — also the BATCH incremental API. */
  def admitBatchUrlDedup(batch: DataFrame, idCol: String, urlCol: String,
                         keysTable: String, outPath: String,
                         keyBuckets: Int = 32,
                         batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    def keysOf(s: DataFrame): DataFrame =
      s.select(col(idCol),
        coalesce(graft.operators.Url.canonicalizeUrlExt(col(urlCol)),
          concat(lit("(invalid-url):"), col(idCol).cast("string")))
          .as("url_key"))
    def appendKeys(s: DataFrame): Unit =
      Warehouse.append(Layout.UrlKeys.copy(floor = keyBuckets), keysTable,
        keysOf(s))
    def ensureKeys(s: DataFrame): Unit =
      if (!indexHasIds(spark, keysTable, s.select(idCol), idCol, idCol))
        appendKeys(s)
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol,
        ensureKeys)))
      return
    val b = batch.persist()
    try {
      val keyed = keysOf(b)
      // within-batch: one winner per canonical key, content-keyed rank
      val winners = keyed.withColumn("_rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("url_key")
          .orderBy(md5(col(idCol).cast("string")), col(idCol))))
        .filter(col("_rk") === 1).drop("_rk")
      // vs the standing index — Materialize severs the decision's
      // lineage from the table the commit appends to (the simhash
      // axis's self-rejection lesson)
      val admitIds = (
        if (spark.catalog.tableExists(keysTable))
          winners.join(spark.table(keysTable).select("url_key"),
            Seq("url_key"), "left_anti")
        else winners
      ).select(idCol).transform(Materialize(_))
      val survivors = b.join(admitIds, Seq(idCol), "left_semi")
      commitAdmission(survivors, outPath, batchId, appendKeys)
    } finally b.unpersist()
  }

  // ------------------------------------------------------------------
  // Axis 9: content-policy gate (PII density + quality floor — the
  // governance reject that runs BEFORE any similarity axis pays
  // shingles or embeddings; rejects are QUARANTINED with a reason,
  // never silently dropped, because a governance gate that loses its
  // audit trail is not a governance gate)
  // ------------------------------------------------------------------

  /**
   * Policy-gate admission: each micro-batch document is admitted only
   * if its PII hit count ([[graft.operators.Pii.piiHits]] — five
   * regex classes, map-only) stays ≤ `maxPiiHits` AND its quality
   * score ([[graft.operators.TextAnalysis.qualityScore]]) reaches
   * `minQuality`. Rejects land under `quarantinePath` carrying the
   * original columns plus `(pii_hits, quality, reason)` — reason is
   * the comma-joined list of failed checks, so downstream triage can
   * split scrub-and-readmit candidates (`pii`) from discards
   * (`quality`).
   *
   * Unlike the similarity/quota axes this gate is STATELESS — the
   * decision is a pure per-row function of the batch, so a replay
   * recomputes the identical decision and the manifest protocol's only
   * job is making the two output appends exactly-once (survivors via
   * [[commitAdmission]]'s manifest; quarantine via the same
   * append-on-commit hook, probed id-wise only on crash recovery).
   * Cost per batch: two codegen'd expression passes over the batch —
   * no standing read, no shuffle beyond the output writes.
   */
  def policyGateAdmission(docs: DataFrame, idCol: String, textCol: String,
                          outPath: String, quarantinePath: String,
                          checkpointDir: String,
                          maxPiiHits: Long = 0L,
                          minQuality: Double = 0.0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatchPolicyGate(batch, idCol, textCol, outPath,
          quarantinePath, maxPiiHits, minQuality, Some(bid))
      }
      .start()

  /** One policy-gate round — also the BATCH incremental API.
    *
    * Replay guard: the gate is stateless, so nothing self-rejects a
    * replayed batch the way the similarity axes do — the quota axis's
    * STAMP trick applies instead. The quarantine append (run inside
    * [[commitAdmission]]'s pre-output hook) also drops an
    * underscore-prefixed `_stamp_<bid>` marker under `quarantinePath`
    * (parquet readers skip underscore files), so the commit order is
    * manifest → quarantine+stamp → output → manifest delete, and a
    * stamp present with NO manifest proves the batch fully committed
    * — skip it. Unstamped (batchId=None) rounds get no replay guard;
    * the caller owns retry semantics, as with every other axis. */
  def admitBatchPolicyGate(batch: DataFrame, idCol: String, textCol: String,
                           outPath: String, quarantinePath: String,
                           maxPiiHits: Long = 0L, minQuality: Double = 0.0,
                           batchId: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    def gated(s: DataFrame): DataFrame =
      s.withColumn("pii_hits", graft.operators.Pii.piiHits(col(textCol)))
        .withColumn("quality",
          graft.operators.TextAnalysis.qualityScore(col(textCol)))
        .withColumn("reason", concat_ws(",",
          when(col("pii_hits") > maxPiiHits, lit("pii")),
          when(col("quality") < minQuality, lit("quality"))))
    def stampPath(id: Long): (org.apache.hadoop.fs.FileSystem, Path) = {
      val (fs, p) = fsOf(spark, quarantinePath)
      (fs, new Path(p, s"_stamp_$id"))
    }
    def writeStamp(): Unit = batchId.foreach { id =>
      val (fs, sp) = stampPath(id)
      fs.mkdirs(sp.getParent)
      fs.create(sp, true).close()
    }
    // the quarantine derivation is pure (no standing state), so both
    // the hot path and crash recovery recompute it from the batch
    def quarantineOf: DataFrame = gated(batch).filter(col("reason") =!= "")
    def appendQuarantine(s: DataFrame): Unit = {
      val q = quarantineOf
      if (!q.isEmpty)
        q.write.mode(SaveMode.Append).parquet(quarantinePath)
      writeStamp() // AFTER the rows: stamp present ⇒ quarantine complete
    }
    def ensureQuarantine(s: DataFrame): Unit =
      if (!batchId.exists(id => stampPath(id)._1.exists(stampPath(id)._2)))
        appendQuarantine(s)
    if (batchId.exists(recoverPartialCommit(spark, outPath, _, idCol,
        ensureQuarantine)))
      return
    // stamp with no manifest (checked above) ⇒ this batch fully
    // committed on a prior attempt — the stateless decision would
    // recompute identically and double-append both outputs
    if (batchId.exists(id => stampPath(id)._1.exists(stampPath(id)._2)))
      return
    val survivors = gated(batch).filter(col("reason") === "")
      .select(batch.columns.map(col): _*)
    commitAdmission(survivors, outPath, batchId, appendQuarantine)
  }
}
