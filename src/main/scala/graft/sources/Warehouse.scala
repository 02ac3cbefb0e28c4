package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** A side table stored beside a family's main table as
  * `<table><suffix>` ([[Warehouse.sideTable]]). An ADDITIVE side holds
  * partials that grow with every append of the main table; a MODEL side
  * holds a fitted model (centroids, codebook, quantizer params) and is
  * written only by an overwriting [[Warehouse.save]] — appends encode
  * against it, never into it, so a one-row model table stays one row.
  * A DERIVED side (`derive` set) is neither: it is recomputed from the
  * stored main table after every [[Warehouse.save]] and
  * [[Warehouse.append]], and no caller passes its frame.
  * `key` buckets (and sorts) the side like a main table; `None` writes
  * it plain. */
final case class Side(suffix: String, additive: Boolean,
                      key: Option[String] = None,
                      derive: Option[DataFrame => DataFrame] = None)

object Side {
  /** MinHash shingles, bucketed by the document id so the exact-Jaccard
    * verify joins co-locate on their id keys. */
  val Shingles = Side("_shingles", additive = true, Some("doc_id"))
  /** Lexical squared norms over the same capped vectors as the index. */
  val Norms = Side("_norms", additive = true)
  /** Naive Bayes per-label partials `(_lab, tot, n_docs)`. */
  val Labels = Side("_labels", additive = true)
  /** IVF / IVF-PQ coarse centroids `(cell, centroid)`. */
  val Centroids = Side("_centroids", additive = false)
  /** PQ / IVF-PQ codebook `(sub, code, centroid)`. */
  val Codebook = Side("_codebook", additive = false)
  /** SQ8's one-row `(mins, scales)` quantizer params. */
  val Params = Side("_params", additive = false)
  /** NB's one-row `(vocab_size)`. |V| is not additive across batches,
    * so it is recounted from the stored counts at write time (distinct
    * on the bucket key, no shuffle) instead of scanned on every serve
    * ([[graft.operators.TextAnalysis.naiveBayesScoreStored]]). */
  val NbParams = Params.copy(derive = Some(
    _.agg(count_distinct(col("tok")).as("vocab_size"))))
}

/**
 * How one at-rest family lays out its tables: the bucket (= sort)
 * column of the main table (`None` for a plain table), the FLOOR bucket
 * count handed to [[Warehouse.adaptiveBuckets]], and the side tables
 * written beside it. Bucketing by the probe key is the SCALE.md §5
 * "index as a table layout": a lookup filtering on its keys scans only
 * the matching file buckets (`SelectedBucketsCount` in the plan), and a
 * join or aggregate on the key reads the stored side pre-distributed, so
 * only the batch side shuffles. `sortBy(key)` keeps each key's run
 * contiguous inside its bucket file.
 */
final case class Layout(key: Option[String], floor: Int = 32,
                        sides: Seq[Side] = Nil) {
  /** Each table of the family with the layout it is written under on
    * its own — the main table first, then every side (sides bucket with
    * the family's floor). Crash repair appends a single table of a
    * family through this. */
  def parts(table: String): Seq[(String, Layout)] =
    (table, copy(sides = Nil)) +:
      sides.map(s => (Warehouse.sideTable(table, s), Layout(s.key, floor)))
}

object Layout {
  private def by(key: String, floor: Int = 32, sides: Seq[Side] = Nil) =
    Layout(Some(key), floor, sides)

  /** Unbucketed parquet table — the layout of standalone centroid
    * tables, monitor reference counts
    * ([[graft.streaming.StreamingMonitor.referenceCounts]]), learned BPE
    * merges ([[graft.operators.Bpe.mergeTable]]) and the matryoshka
    * prefix layout ([[graft.operators.Similarity.withPrefix]]). */
  val Plain = Layout(None)
  /** QAN wide rows bucketed by `digest`: per-digest aggregates and joins
    * need no exchange. One unpartitioned table — a caller wanting the
    * `q_date` column adds it; date partitioning is
    * [[Warehouse.writePartitioned]]'s layout. */
  val Digest = by("digest")
  /** Sign-LSH bucket rows ([[graft.operators.Similarity.annBucketFrame]]:
    * `(id, emb, table, key)`). */
  val Ann = by("key")
  /** SimHash band rows ([[graft.operators.Dedup.simHashBandFrame]]:
    * `(id, sh, band, key)`); the banded self-join reads both sides
    * pre-distributed on `key`. */
  val SimHash = by("key")
  /** MinHash band rows ([[graft.operators.Dedup.minHashBandFrame]]) plus
    * shingles bucketed by `idCol`. The signature is stateless
    * (seed-derived), so appending batch-encoded frames is the entire
    * incremental story. */
  def minHash(idCol: String = "doc_id"): Layout =
    by("key", sides = Seq(Side.Shingles.copy(key = Some(idCol))))
  /** Inverted index: distinct `(doc_id, token)` postings
    * ([[graft.operators.Search.postings]]). */
  val Inverted = by("token")
  /** Winnowing fingerprints `(doc_id, fp_hash)` after the df screen
    * ([[graft.operators.Dedup.winnowingFingerprints]]); selection is
    * per-document, so appended batches compose exactly. */
  val Winnow = by("fp_hash")
  /** Char-trigram postings `(doc_id, gram)`
    * ([[graft.operators.Search.trigramPostings]]); duplicate grams
    * across appends are absorbed by the searcher's per-doc distinct. */
  val Trigram = by("gram")
  /** Mergeable rollup partials ([[graft.operators.Rollup.dailyPartials]]):
    * blind appends, merged on read exchange-free
    * ([[graft.operators.Rollup.finalizeRollup]]). */
  val Rollup = by("day", 8)
  /** Per-domain admitted-count partials `(reg_domain, n, batch_id)`
    * ([[graft.streaming.StreamingDedup.admitBatchDomainCap]]). batch_id
    * >= 0 is RESERVED for admission rounds (the committed-probe treats a
    * present non-negative stamp as proof that round committed);
    * caller-seeded history must use NEGATIVE stamps, which always sum
    * on read and are never probed. */
  val DomainCounts = by("reg_domain", 8)
  /** Canonical-URL keys `(<id>, url_key)`
    * ([[graft.streaming.StreamingDedup.urlDedupAdmission]]); the id
    * rides along for the crash-recovery presence probe. */
  val UrlKeys = by("url_key")
  /** Capped lexical tf `(doc_id, tok, tf)`
    * ([[graft.operators.Dedup.cappedLexicalTf]]) plus squared norms over
    * the same capped vectors, so stored probes score the exact cosine of
    * what was indexed. */
  val Lexical = by("tok", sides = Seq(Side.Norms))
  /** Naive Bayes count partials `(_lab, tok, c)`
    * ([[graft.operators.TextAnalysis.naiveBayesFit]]) plus per-label
    * partials. Both are additive, so append + merge-on-read is exactly a
    * retrain on the union; the derived `_params` keeps |V| in step. */
  val NaiveBayes = by("tok", sides = Seq(Side.Labels, Side.NbParams))
  /** IVF cell rows ([[graft.operators.Similarity.ivfIndex]]:
    * `(id, emb, cell)`) plus the nlist-row centroid model. */
  val Ivf = by("cell", 16, Seq(Side.Centroids))
  /** PQ codes `(id, sub, code)` ([[graft.operators.Similarity.pqIndex]])
    * plus codebook. No pruning key — an ADC query scans every code row;
    * the win is size. Codes bucket by `id` so the re-rank co-locates
    * with an id-bucketed corpus. */
  val Pq = by("id", sides = Seq(Side.Codebook))
  /** SQ8 codes `(id, code)` ([[graft.operators.Similarity.sq8Index]])
    * plus the one-row `(mins, scales)` params the probe crossJoins. */
  val Sq8 = by("id", sides = Seq(Side.Params))
  /** IVF-PQ residual codes `(id, cell, sub, code)`
    * ([[graft.operators.Similarity.ivfPqIndex]]) plus centroids and
    * residual codebook: IVF's read-WHERE pruning with PQ's read-WHAT
    * compression. */
  val IvfPq = by("cell", 16, Seq(Side.Centroids, Side.Codebook))
}

/**
 * The warehouse layouts from SCALE.md §2: the date-partitioned wide
 * table ([[writePartitioned]]) and every bucketed or plain at-rest
 * family, written through one [[save]] / [[append]] / [[drop]] path
 * driven by the family's [[Layout]].
 */
object Warehouse {

  /** ~4M index rows per bucket ≈ 100–300 MB parquet per bucket file for
    * the small index-row shapes saved here (band/code/posting/tf rows,
    * 20–40 B each) — inside the guide-§6 128 MB–1 GB file-size window. */
  private val RowsPerBucket = 4L * 1000 * 1000
  private val MaxBuckets = 1024

  /**
   * Scale-adaptive bucket count for a NEW table (guide §6 file sizing +
   * §2.2 fewer-larger partitions). Resolution order:
   *
   *  1. `spark.graft.buckets` session conf — the cluster submission's
   *     explicit posture, taken as given (any integer in 1..1024; a
   *     100 TB corpus whose band frame carries ~10¹¹ rows wants the
   *     1024 cap, a 1 TB one ~256);
   *  2. the optimizer's ROW-COUNT stats when present (analyzed upstream
   *     tables / range-shaped sources) — `rows / RowsPerBucket`, never
   *     below the layout's `floor`, capped at 1024; size-only estimates
   *     are deliberately ignored (they inflate multiplicatively through
   *     joins and explodes);
   *  3. the floor — raw-parquet local runs land here, so the bench
   *     layout is byte-identical to every prior round.
   *
   * Bucket-count changes never break probes: bucket pruning and
   * exchange-free joins key off the CATALOG spec of the table actually
   * written, and appends follow the stored spec.
   */
  private[sources] def adaptiveBuckets(df: DataFrame, floor: Int): Int =
    df.sparkSession.conf.getOption("spark.graft.buckets") match {
      case Some(b) =>
        val n = b.trim.toIntOption.filter(n => n >= 1 && n <= MaxBuckets)
        n.getOrElse(throw new IllegalArgumentException(
          s"spark.graft.buckets must be an integer in 1..$MaxBuckets, got '$b'"))
      case None =>
        df.queryExecution.optimizedPlan.stats.rowCount
          .map(r => (r / RowsPerBucket).min(MaxBuckets).max(floor).toInt)
          .getOrElse(floor)
    }

  /** The one bucket rule: an existing table keeps its stored catalog
    * spec (an append computed from a small batch must match the layout
    * its original — possibly adaptive — save chose; Spark rejects a
    * mismatch), a new table sizes by [[adaptiveBuckets]]. */
  private def numBuckets(df: DataFrame, table: String, floor: Int): Int = {
    val spark = df.sparkSession
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    Some(ident).filter(cat.tableExists)
      .flatMap(cat.getTableMetadata(_).bucketSpec).map(_.numBuckets)
      .getOrElse(adaptiveBuckets(df, floor))
  }

  /** Write the wide table date-partitioned: `.../q_date=YYYY-MM-DD/`.
    * Time-ranged readers prune whole partitions (verified in the spec
    * via PartitionFilters in the scan). */
  def writePartitioned(wide: DataFrame, path: String,
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    wide.withColumn("q_date", to_date(col("ts")))
      .write.mode(mode)
      .partitionBy("q_date")
      .parquet(path)

  /** Read back with partition pruning available on `q_date`, under the
    * declared wide schema: no footer-inference job, and a warehouse with
    * no data files (a log without events) reads as an empty table. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(graft.slowlog.SlowLogTable.WideSchema.add("q_date", DateType))
      .parquet(path)

  /** Make `saveAsTable` idempotent ACROSS JVMs: an in-memory catalog
    * forgets managed tables at shutdown but their warehouse LOCATION
    * survives, and the next session's CREATE then fails with
    * LOCATION_ALREADY_EXISTS. (A Hive/production metastore never
    * orphans; this is the embedded-catalog dev/bench shape.)
    *
    * Data-safety contract: when the catalog KNOWS the table, `DROP TABLE`
    * alone is correct — Spark deletes a MANAGED location itself and must
    * NOT delete an EXTERNAL one (the catalog never owned that data). The
    * manual delete applies only to the orphan case (no catalog entry),
    * and the path is the catalog's own `defaultTablePath` for the parsed
    * identifier — honoring the current database and `db.tbl` qualifiers
    * instead of assuming `<warehouse>/<name>`. */
  def dropWithLocation(spark: SparkSession, table: String): Unit = {
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    if (cat.tableExists(ident)) {
      spark.sql(s"DROP TABLE $table")
    } else {
      val path = new org.apache.hadoop.fs.Path(cat.defaultTablePath(ident))
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) fs.delete(path, true)
    }
  }

  /** Name of a family's side table: `<table><suffix>`. */
  def sideTable(table: String, side: Side): String = table + side.suffix

  /** Drop every table of a family (main + sides), orphans included. */
  def drop(spark: SparkSession, layout: Layout, table: String): Unit =
    layout.parts(table).foreach(p => dropWithLocation(spark, p._1))

  /** Overwrite a family: drop its tables, then write `main` and one
    * frame per non-derived side, in `layout.sides` order, then the
    * derived sides. Idempotent across JVMs. */
  def save(layout: Layout, table: String, main: DataFrame,
           sides: DataFrame*): Unit =
    write(layout, table, main +: sides, SaveMode.Overwrite)(_.derive.isEmpty)

  /** Grow a family by one batch: blind append of `main` and one frame
    * per ADDITIVE side, in `layout.sides` order; model sides are never
    * touched (new rows are encoded against them upstream), derived sides
    * are recomputed. The standing table is never read or rewritten, so
    * the cost is ∝ batch; each append lays down one more file per bucket
    * ([[compactTable]] folds them). A missing table is created; a
    * missing table whose managed location survives from an earlier JVM
    * fails with LOCATION_ALREADY_EXISTS rather than losing that data. */
  def append(layout: Layout, table: String, main: DataFrame,
             additive: DataFrame*): Unit =
    write(layout, table, main +: additive, SaveMode.Append)(_.additive)

  /** Write `frames` to the main table and the sides selected by `take`,
    * in order (an overwrite first drops the whole family), then rewrite
    * every derived side from the stored main. */
  private def write(layout: Layout, table: String, frames: Seq[DataFrame],
                    mode: SaveMode)(take: Side => Boolean): Unit = {
    val parts = layout.parts(table)
    val targets = parts.head +: parts.tail.zip(layout.sides)
      .collect { case (p, s) if take(s) => p }
    require(frames.size == targets.size, s"$mode $table: expected " +
      s"${targets.size - 1} side frames, got ${frames.size - 1}")
    val spark = frames.head.sparkSession
    if (mode == SaveMode.Overwrite) drop(spark, layout, table)
    targets.zip(frames).foreach { case ((t, l), df) =>
      val w = df.write.mode(mode).format("parquet")
      l.key.fold(w)(k => w.bucketBy(numBuckets(df, t, l.floor), k).sortBy(k))
        .saveAsTable(t)
    }
    for ((p, s) <- parts.tail.zip(layout.sides); f <- s.derive)
      save(p._2, p._1, f(spark.table(table)))
  }

  /**
   * Collect table + column statistics for a saved warehouse table — the
   * CBO feed (SCALE.md §2): row count and per-column ndv/min/max/nulls
   * on the columns QAN queries filter and join by. With
   * `spark.sql.cbo.enabled`, a selective digest filter's cardinality is
   * then estimated from ndv instead of assumed un-selective, which is
   * what lets the planner broadcast a filtered fact slice it would
   * otherwise sort-merge (spec-proven plan flip). On a cluster this
   * runs once per load batch — stats scans are column-pruned and cheap
   * relative to the load itself.
   */
  def analyzeTable(spark: SparkSession, table: String,
                   columns: Seq[String] = Seq("digest", "q_date")): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS " +
      s"FOR COLUMNS ${columns.mkString(", ")}")
  }

  /** Data files currently under a table's location (parquet parts only —
    * excludes _SUCCESS and metadata). The observability half of
    * [[compactTable]]. */
  def tableFileCount(spark: SparkSession, table: String): Int = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ident).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(loc, true)
    var n = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  /**
   * Compact a managed table in place, preserving its bucket/sort/partition
   * spec. Every `Append` to a bucketed table lays down one MORE file per
   * bucket, so a streaming admission loop ([[graft.streaming.StreamingDedup]])
   * or daily [[append]] of an IVF/PQ batch grows k files per
   * bucket after k appends — and at 100 TB the small-files problem is a
   * real scan-cost and NameNode/listing tax (every probe opens k footers
   * per selected bucket instead of 1). The rewrite reads the table once,
   * writes a staging table with the IDENTICAL catalog spec (so bucket
   * pruning and exchange-free joins survive), then atomically swaps it in
   * via RENAME. Returns (files before, files after).
   *
   * This is the maintenance companion of the append path: appends keep
   * ingest O(batch); a periodic compaction keeps reads O(corpus/buckets).
   *
   * Crash safety: the swap renames the LIVE table aside first
   * (`t → t_old`, `t_compacting → t`, drop `t_old`), so every crash
   * point leaves a complete, queryable copy of the data under SOME name
   * and recovery is at most one rename — unlike a DROP-then-RENAME
   * ordering, which has a window where no table exists under the
   * original name at all. The only remaining window is between the two
   * renames, where a reader sees `t` briefly missing but `t_old` +
   * `t_compacting` both hold full copies. (A metastore with
   * transactional DDL — or table formats with commit protocols — closes
   * even that; this is the embedded-catalog shape.)
   */
  def compactTable(spark: SparkSession, table: String): (Int, Int) = {
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = cat.getTableMetadata(ident)
    val before = tableFileCount(spark, table)
    val staging = table + "_compacting"
    val retired = table + "_old"
    dropWithLocation(spark, staging)
    dropWithLocation(spark, retired) // stale leftover from a prior crash
    var w = spark.table(table).write.mode(SaveMode.Overwrite)
      .format(meta.provider.getOrElse("parquet"))
    meta.bucketSpec.foreach { spec =>
      w = w.bucketBy(spec.numBuckets,
        spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
      if (spec.sortColumnNames.nonEmpty)
        w = w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    }
    if (meta.partitionColumnNames.nonEmpty)
      w = w.partitionBy(meta.partitionColumnNames: _*)
    w.saveAsTable(staging)
    spark.sql(s"ALTER TABLE $table RENAME TO $retired")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    // RENAME moves the table directory but per-PARTITION catalog entries
    // can still record pre-rename locations (URI-normalization-dependent:
    // `file:/` entries get rewritten, `file:///` ones don't), so a
    // partitioned table reads back empty — or worse, the retired table's
    // entries keep pointing INTO the live directory. Heal the live table
    // from the filesystem FIRST (every partition dir exists, so MSCK
    // rewrites each entry), and strip the retired table down to
    // metadata-only partitions (retainData) before dropping it: a
    // managed DROP deletes partition locations outside its own dir,
    // which with a stale cross-pointer is live data.
    if (meta.partitionColumnNames.nonEmpty) {
      spark.sql(s"MSCK REPAIR TABLE $table")
      val retIdent = spark.sessionState.sqlParser.parseTableIdentifier(retired)
      cat.dropPartitions(retIdent, cat.listPartitions(retIdent).map(_.spec),
        ignoreIfNotExists = true, purge = false, retainData = true)
    }
    spark.sql(s"DROP TABLE $retired")
    spark.catalog.refreshTable(table)
    (before, tableFileCount(spark, table))
  }

  /**
   * Schema migration across parquet partition generations — the WRITE
   * half of the q258 story: a standing path-based dataset whose older
   * batches lack columns (or carry old names/types) is rewritten ONCE
   * to one unified schema, so every future reader drops the
   * `mergeSchema` tax and the null-coalescing special cases.
   *
   *  - `renames`: old → new column name (applied where the old name
   *    exists; generations already on the new name pass through).
   *  - `casts`: column → target SQL type, applied EXPLICITLY — the
   *    migration is where a type unifies, never silently at read time.
   *  - `addDefaults`: column → default expression; generations missing
   *    the column (merged read surfaces NULL) take the default via
   *    coalesce, generations that never had it at all gain it.
   *
   * Crash safety is [[compactTable]]'s staging-rename discipline on
   * directories: the migrated copy writes COMPLETELY to
   * `<path>_migrating`, then `path → <path>_old`,
   * `<path>_migrating → path`, delete `<path>_old` — every crash point
   * leaves a full copy under some name. The entry is self-healing: a
   * missing live dir with a retired copy present (death between the
   * two renames) restores the retired copy first, and stale
   * `_migrating`/`_old` leftovers from any prior crash are cleared
   * before the rewrite, so re-running the SAME migration after any
   * crash converges (the spec drives each window).
   *
   * Scale shape: one read + one write of the dataset — the same cost
   * class as compaction, amortized over every subsequent read; the
   * transform itself is map-only column arithmetic.
   */
  def migrateSchema(spark: SparkSession, path: String,
                    renames: Map[String, String] = Map.empty,
                    casts: Map[String, String] = Map.empty,
                    addDefaults: Map[String, Column] = Map.empty,
                    partitionCols: Seq[String] = Seq.empty): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + "_migrating")
    val retired = new org.apache.hadoop.fs.Path(path + "_old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a prior crash between the two renames: the retired copy is
    // the complete pre-migration dataset — restore it and redo
    if (!fs.exists(live) && fs.exists(retired))
      require(fs.rename(retired, live), s"crash recovery rename failed: " +
        s"$retired -> $live")
    require(fs.exists(live), s"migrateSchema: no dataset at $path")
    if (fs.exists(staging)) fs.delete(staging, true) // stale half-write
    if (fs.exists(retired)) fs.delete(retired, true) // stale retired copy
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    val renamed = renames.foldLeft(merged) { case (df, (o, n)) =>
      if (!df.columns.contains(o)) df
      // generations split ACROSS the rename (old batches wrote `o`,
      // new batches already write `n`): the merged frame carries both
      // columns, each NULL on the other generation's rows — fold the
      // old into the new, then drop it (a bare rename would collide)
      else if (df.columns.contains(n))
        df.withColumn(n, coalesce(col(n), col(o))).drop(o)
      else df.withColumnRenamed(o, n)
    }
    val casted = casts.foldLeft(renamed) { case (df, (c, t)) =>
      if (df.columns.contains(c)) df.withColumn(c, col(c).cast(t)) else df
    }
    val unified = addDefaults.foldLeft(casted) { case (df, (c, dflt)) =>
      if (df.columns.contains(c)) df.withColumn(c, coalesce(col(c), dflt))
      else df.withColumn(c, dflt)
    }
    val w = unified.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    require(fs.rename(live, retired), s"swap rename failed: $live -> $retired")
    require(fs.rename(staging, live), s"swap rename failed: $staging -> $live")
    fs.delete(retired, true)
  }
}
