package graft.sources

import graft.SparkTestSession
import graft.slowlog.{SlowLogSource, SlowLogTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Proves the SCALE.md §2 layout claims on the real write paths:
  * date-partition pruning and bucketed no-shuffle aggregation. */
class WarehouseSpec extends AnyFunSuite with SparkTestSession {

  private lazy val wide = {
    val dir = Files.createTempDirectory("graft-wh")
    val sb = new StringBuilder
    for (day <- 15 to 17; i <- 0 until 4) {
      sb.append(f"# Time: 2024-01-$day%02dT10:00:0$i%d.000000Z\n")
      sb.append("# User@Host: u[u] @ h [10.0.0.1]\n")
      sb.append(f"# Query_time: 0.100000  Lock_time: 0.000001 Rows_sent: 1  Rows_examined: $i%d\n")
      sb.append(s"SELECT * FROM t$i WHERE k = $day;\n")
    }
    Files.writeString(dir.resolve("wh.log"), sb.result())
    SlowLogTable.flatten(SlowLogSource.readRaw(spark, dir.toString))
  }
  // the digest layout's rows: the wide table plus its q_date column
  private lazy val dated = wide.withColumn("q_date", to_date(col("ts")))

  test("AQE coalesces shuffle partitions at runtime (SCALE.md §0 posture)") {
    // 12 tiny rows through a 4-partition shuffle: AQE should fuse the
    // near-empty reducers into one — the mechanism SCALE.md relies on to
    // let clusters over-provision spark.sql.shuffle.partitions
    val agg = wide.groupBy("digest").count()
    agg.collect() // materialize so AQE finalizes the plan
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"AQE did not coalesce the shuffle:\n$plan")
  }

  private def namesAndTypes(s: org.apache.spark.sql.types.StructType) =
    s.fields.toSeq.map(f => (f.name, f.dataType))

  test("declared wide schema: flatten's output and what parquet infers on a warehouse") {
    assert(namesAndTypes(wide.schema) == namesAndTypes(SlowLogTable.WideSchema))
    val dir = Files.createTempDirectory("graft-wh-schema")
    Files.writeString(dir.resolve("slow001.log"), graft.slowlog.SlowLogFixtures.slow001)
    val out = dir.resolve("warehouse").toString
    graft.Ingest.run(spark, graft.Ingest.parseArgs(Array(
      "-slowLogPath", dir.toString, "-dsn", s"parquet:$out")))
    val declared = SlowLogTable.WideSchema.add("q_date", "date")
    assert(namesAndTypes(spark.read.parquet(out).schema) == namesAndTypes(declared))
    assert(namesAndTypes(Warehouse.read(spark, out).schema) == namesAndTypes(declared))
  }

  test("date-partitioned layout prunes partitions for time-ranged reads") {
    val out = Files.createTempDirectory("graft-wh-out").toString + "/queries"
    Warehouse.writePartitioned(wide, out)
    // three day-partitions written
    val days = Warehouse.read(spark, out).select("q_date").distinct().count()
    assert(days == 3)
    val filtered = Warehouse.read(spark, out)
      .filter(col("q_date") === "2024-01-16")
    val scan = filtered.queryExecution.executedPlan.toString
    // the date predicate reaches the scan as a partition filter
    assert(scan.contains("PartitionFilters") && scan.contains("q_date"), scan)
    assert(filtered.count() == 4)
  }

  test("persisted ANN index: probe lookups scan only the matching buckets") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    // filter-only queries hit the auto-bucketed-scan heuristic, which
    // falls back to a plain scan (no join/agg to exploit distribution) —
    // turning it off lets the planner use bucket PRUNING on the filter
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val frame = graft.operators.Similarity.annBucketFrame(
      emb, "vec_id", "embedding")
    Warehouse.save(Layout.Ann.copy(floor = 8), "ann_idx", frame)
    try {
      // a probe's lookup key (table 0) for vec_id 0, computed from the
      // same deterministic hyperplanes the index was built with
      val probeKey = frame
        .filter(col("id") === 0L && col("table") === 0).collect().head
        .getAs[Long]("key")
      val lookup = spark.table("ann_idx")
        .filter(col("table") === 0 && col("key") === probeKey)
      val plan = lookup.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"probe lookup did not bucket-prune:\n$plan")
      // pruned scan returns exactly the rows the unbucketed frame holds
      assert(lookup.count() ==
        frame.filter(col("table") === 0 && col("key") === probeKey).count())
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS ann_idx")
    }
  }

  test("persisted SimHash index: probe prunes buckets, pair join needs no exchange") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bands = graft.operators.Dedup.simHashBandFrame(
      docs, "doc_id", split(col("text"), " "))
    Warehouse.save(Layout.SimHash.copy(floor = 8), "simhash_idx", bands)
    try {
      // probe: one document's band-0 key, computed from the same
      // deterministic fingerprint math the index was built with
      val probeKey = bands
        .filter(col("doc_id") === 0L && col("band") === 0).collect().head
        .getAs[Long]("key")
      val lookup = spark.table("simhash_idx")
        .filter(col("band") === 0 && col("key") === probeKey)
      val plan = lookup.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"probe lookup did not bucket-prune:\n$plan")
      // the banded self-join over the STORED table: both sides already
      // hash-distributed on key (a subset of the (band, key) join keys),
      // so the join plans with zero exchanges
      val stored = spark.table("simhash_idx")
      val joined = stored.select(col("doc_id").as("da"), col("band"), col("key"))
        .join(stored.select(col("doc_id").as("db"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("da") < col("db"))
      assert(!joined.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
        s"bucketed self-join still shuffles:\n${joined.queryExecution.executedPlan}")
      // and the full persist-and-probe operator equals the direct path
      val viaStore = graft.operators.Dedup
        .simHashNearDupPairsFrom(stored, "doc_id", maxHamming = 16)
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val direct = graft.operators.Dedup
        .simHashNearDupPairs(docs, "doc_id", split(col("text"), " "), 16)
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStore == direct)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS simhash_idx")
    }
  }

  test("persisted MinHash index: probe prunes buckets, stored pairs equal direct, append is stateless") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import graft.operators.Dedup
    val bands = Dedup.minHashBandFrame(docs, "doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text", n = 3)
    Warehouse.save(Layout.minHash().copy(floor = 8), "minhash_idx", bands, sh)
    try {
      // probe: one document's band-0 key, computed from the same
      // stateless seed-derived signature math the index was built with
      val probeKey = bands
        .filter(col("doc_id") === 0L && col("band") === 0).collect().head
        .getAs[Long]("key")
      val lookup = spark.table("minhash_idx")
        .filter(col("band") === 0 && col("key") === probeKey)
      val plan = lookup.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"probe lookup did not bucket-prune:\n$plan")
      // the banded self-join over the STORED table: both sides already
      // hash-distributed on key, so the candidate join needs no exchange
      val stored = spark.table("minhash_idx")
      val joined = stored.select(col("doc_id").as("da"), col("band"), col("key"))
        .join(stored.select(col("doc_id").as("db"), col("band"), col("key")),
          Seq("band", "key"))
        .filter(col("da") < col("db"))
      assert(!joined.queryExecution.executedPlan.toString
          .contains("Exchange hashpartitioning"),
        s"bucketed self-join still shuffles:\n${joined.queryExecution.executedPlan}")
      // full persist-and-probe operator equals the direct path — same
      // pairs, same exact Jaccard
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaStore = pairs(Dedup.minHashDedupPairsFrom(
        stored, spark.table("minhash_idx_shingles"), "doc_id"))
      val direct = pairs(Dedup.minHashDedupPairs(docs, "doc_id", "text"))
      assert(viaStore == direct && viaStore.nonEmpty)
      // append is stateless: a split build + append equals the full build
      val (docA, docB) =
        (docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
      Warehouse.save(Layout.minHash().copy(floor = 8), "mh_app",
        Dedup.minHashBandFrame(docA, "doc_id", "text"),
        Dedup.shingles(docA, "doc_id", "text", n = 3))
      Warehouse.append(Layout.minHash().copy(floor = 8), "mh_app",
        Dedup.minHashBandFrame(docB, "doc_id", "text"),
        Dedup.shingles(docB, "doc_id", "text", n = 3))
      val viaAppended = pairs(Dedup.minHashDedupPairsFrom(
        spark.table("mh_app"), spark.table("mh_app_shingles"), "doc_id"))
      assert(viaAppended == direct)
      // the cross-corpus probe: every docB id near-dup of a docA id is
      // exactly the (da < db)-split pairs crossing the 250 boundary
      val crossing = direct.collect { case (a, b, _) if a < 250 && b >= 250 => b }
      val matched = Dedup.minHashMatchesAgainst(
          Dedup.minHashBandFrame(docB, "doc_id", "text"),
          Dedup.shingles(docB, "doc_id", "text", n = 3),
          Dedup.minHashBandFrame(docA, "doc_id", "text"),
          Dedup.shingles(docA, "doc_id", "text", n = 3), "doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(matched == crossing.toSet, s"probe matched $matched, expected $crossing")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS minhash_idx")
      spark.sql("DROP TABLE IF EXISTS minhash_idx_shingles")
      spark.sql("DROP TABLE IF EXISTS mh_app")
      spark.sql("DROP TABLE IF EXISTS mh_app_shingles")
    }
  }

  test("persisted IVF index: cell lookups bucket-prune, stored probe equals direct") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (cells, centroids) = graft.operators.Similarity.ivfIndex(
      emb, "vec_id", "embedding", nlist = 8)
    Warehouse.save(Layout.Ivf.copy(floor = 8), "ivf_idx", cells, centroids)
    try {
      // one cell's rows: a bucket-pruned scan of the stored table
      val someCell = cells.select("cell").orderBy("cell").limit(1)
        .collect().head.getInt(0)
      val lookup = spark.table("ivf_idx").filter(col("cell") === someCell)
      val plan = lookup.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"cell lookup did not bucket-prune:\n$plan")
      assert(lookup.count() == cells.filter(col("cell") === someCell).count())
      // probing the STORED index returns what the direct path returns
      // (the quantizer fit is deterministic, so cell geometry matches)
      val probes = emb.filter(col("vec_id") < 5)
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("probe_id", "nn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaStore = pairs(graft.operators.Similarity.ivfCosineTopKFrom(
        spark.table("ivf_idx"), spark.table("ivf_idx_centroids"),
        probes, "vec_id", "embedding", k = 3, nprobe = 4))
      val direct = pairs(graft.operators.Similarity.ivfCosineTopK(
        emb, probes, "vec_id", "embedding", k = 3, nlist = 8, nprobe = 4))
      assert(viaStore == direct)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS ivf_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_idx_centroids")
    }
  }

  test("persisted PQ index: stored codes + codebook probe equals direct") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (codes, codebook) = graft.operators.Similarity.pqIndex(
      emb, "vec_id", "embedding")
    Warehouse.save(Layout.Pq, "pq_idx", codes, codebook)
    try {
      // the at-rest win is size: subspaces ints per vector, not dims
      assert(spark.table("pq_idx").count() == emb.count() * 8)
      assert(spark.table("pq_idx_codebook").count() == 8 * 64)
      val probes = emb.filter(col("vec_id") < 5)
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("probe_id", "nn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaStore = pairs(graft.operators.Similarity.pqCosineTopKFrom(
        spark.table("pq_idx"), spark.table("pq_idx_codebook"),
        emb, probes, "vec_id", "embedding", k = 3, candidates = 150))
      val direct = pairs(graft.operators.Similarity.pqCosineTopK(
        emb, probes, "vec_id", "embedding", k = 3, candidates = 150))
      assert(viaStore == direct)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_idx")
      spark.sql("DROP TABLE IF EXISTS pq_idx_codebook")
    }
  }

  test("persisted IVF-PQ index: bucket-pruned cells, stored probe equals direct, append reuses the model") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import graft.operators.Similarity
    val (codes, centroids, codebook) =
      Similarity.ivfPqIndex(emb, "vec_id", "embedding", nlist = 8)
    Warehouse.save(Layout.IvfPq.copy(floor = 8), "ivfpq_idx", codes, centroids,
      codebook)
    try {
      // the at-rest shape: subspaces ints per vector, pruning key on
      // every code row, broadcast-sized quantizer tables
      assert(spark.table("ivfpq_idx").count() == emb.count() * 8)
      assert(spark.table("ivfpq_idx_centroids").count() == 8)
      assert(spark.table("ivfpq_idx_codebook").count() == 8 * 64)
      val someCell = spark.table("ivfpq_idx").select("cell")
        .orderBy("cell").limit(1).collect().head.getInt(0)
      val lookup = spark.table("ivfpq_idx").filter(col("cell") === someCell)
      val plan = lookup.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"cell lookup did not bucket-prune:\n$plan")
      // probing the STORED index returns what the direct path returns
      // (both quantizer fits are deterministic)
      val probes = emb.filter(col("vec_id") < 5)
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("probe_id", "nn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaStore = pairs(Similarity.ivfPqTopKFrom(spark.table("ivfpq_idx"),
        spark.table("ivfpq_idx_centroids"), spark.table("ivfpq_idx_codebook"),
        emb, probes, "vec_id", "embedding", k = 3, nprobe = 4, candidates = 100))
      val direct = pairs(Similarity.ivfPqTopK(emb, probes, "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 4, candidates = 100))
      assert(viaStore == direct)

      // append half: a NEW batch is encoded against the STORED model
      // (no refit) and appended; re-encoding reproduces the stored rows
      val (embA, embB) =
        (emb.filter(col("vec_id") < 250), emb.filter(col("vec_id") >= 250))
      val (codesA, centA, bookA) =
        Similarity.ivfPqIndex(embA, "vec_id", "embedding", nlist = 8)
      Warehouse.save(Layout.IvfPq.copy(floor = 8), "ivfpq_app", codesA, centA,
        bookA)
      Warehouse.append(Layout.IvfPq.copy(floor = 8), "ivfpq_app",
        Similarity.ivfPqEncode(embB, "vec_id", "embedding",
          spark.table("ivfpq_app_centroids"),
          spark.table("ivfpq_app_codebook")))
      assert(spark.table("ivfpq_app").count() == emb.count() * 8)
      val reEnc = Similarity.ivfPqEncode(embB, "vec_id", "embedding",
          spark.table("ivfpq_app_centroids"), spark.table("ivfpq_app_codebook"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
      val storedB = spark.table("ivfpq_app").filter(col("id") >= 250)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
      assert(storedB == reEnc)
      // recall floor over the appended index (model fit on half the
      // corpus → widened probe set, the ivf_app/pq_app precedent)
      val probes2 = emb.filter(col("vec_id") === 0 || col("vec_id") === 499 ||
        col("vec_id") === 250 || col("vec_id") === 100 || col("vec_id") === 400)
      val exact = Similarity.knnBatch(emb, probes2, "vec_id", "embedding", k = 3)
        .select("probe_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Similarity.ivfPqTopKFrom(spark.table("ivfpq_app"),
          spark.table("ivfpq_app_centroids"), spark.table("ivfpq_app_codebook"),
          emb, probes2, "vec_id", "embedding", k = 3, nprobe = 6,
          candidates = 150)
        .select("probe_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.groupBy(_._1).forall { case (_, nn) => (nn intersect got).size >= 2 },
        "IVF-PQ appended-index recall under floor")
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      Seq("ivfpq_idx", "ivfpq_idx_centroids", "ivfpq_idx_codebook",
        "ivfpq_app", "ivfpq_app_centroids", "ivfpq_app_codebook")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incremental append: LSH/SimHash half-build + append equals a full build") {
    // The 100 TB maintenance path: hash the NEW batch with the same
    // seed-derived planes/band math and append its index rows — since
    // both families are stateless, (half ∪ appended half) must equal the
    // full build row-for-row, hence probe-for-probe.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val (embA, embB) = (emb.filter(col("vec_id") < 250), emb.filter(col("vec_id") >= 250))
    val (docA, docB) = (docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
    import graft.operators.{Dedup, Similarity}
    Warehouse.save(Layout.Ann.copy(floor = 8), "ann_app",
      Similarity.annBucketFrame(embA, "vec_id", "embedding"))
    Warehouse.append(Layout.Ann.copy(floor = 8), "ann_app",
      Similarity.annBucketFrame(embB, "vec_id", "embedding"))
    Warehouse.save(Layout.SimHash.copy(floor = 8), "sh_app",
      Dedup.simHashBandFrame(docA, "doc_id", split(col("text"), " ")))
    Warehouse.append(Layout.SimHash.copy(floor = 8), "sh_app",
      Dedup.simHashBandFrame(docB, "doc_id", split(col("text"), " ")))
    try {
      val full = Similarity.annBucketFrame(emb, "vec_id", "embedding")
        .select("id", "table", "key").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val stored = spark.table("ann_app")
        .select("id", "table", "key").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(stored == full)
      // probes over the appended index reproduce the full-build path
      val probes = emb.filter(col("vec_id") < 5)
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("probe_id", "nn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(Similarity.annCosineTopKFrom(spark.table("ann_app"), probes,
          "vec_id", "embedding", k = 3, tables = 8, bits = 8)) ==
        pairs(Similarity.annCosineTopK(emb, probes,
          "vec_id", "embedding", k = 3, tables = 8, bits = 8)))
      val fullPairs = Dedup
        .simHashNearDupPairs(docs, "doc_id", split(col("text"), " "), 16)
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val storedPairs = Dedup
        .simHashNearDupPairsFrom(spark.table("sh_app"), "doc_id", maxHamming = 16)
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(storedPairs == fullPairs)
      // appends FOLLOW the stored catalog layout (r17): a caller
      // declaring a different bucket count is resolved to the table's
      // spec instead of failing — an append can never degrade pruning,
      // and a floor-sized batch can never break an adaptive-bucketed
      // save. The table keeps its original count and the rows land.
      val beforeRows = spark.table("ann_app").count()
      Warehouse.append(Layout.Ann.copy(floor = 4), "ann_app",
        Similarity.annBucketFrame(embB, "vec_id", "embedding"))
      val spec = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("ann_app"))
        .bucketSpec
      assert(spec.map(_.numBuckets).contains(8),
        s"append must keep the stored 8-bucket layout, got $spec")
      assert(spark.table("ann_app").count() > beforeRows)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ann_app")
      spark.sql("DROP TABLE IF EXISTS sh_app")
    }
  }

  test("incremental append: IVF assign + PQ encode reuse the stored model") {
    // IVF/PQ appends must NOT refit: the new batch is assigned/encoded
    // against the STORED centroids/codebook (Similarity.ivfAssign /
    // pqEncode) and appended. The model was trained on the first half
    // only, so the contract is the ANN recall floor vs exact kNN over
    // the FULL corpus — the same floor the oracle entries hold.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (embA, embB) = (emb.filter(col("vec_id") < 250), emb.filter(col("vec_id") >= 250))
    import graft.operators.Similarity
    val (cellsA, centroids) = Similarity.ivfIndex(embA, "vec_id", "embedding", nlist = 8)
    Warehouse.save(Layout.Ivf.copy(floor = 8), "ivf_app", cellsA, centroids)
    val (codesA, codebook) = Similarity.pqIndex(embA, "vec_id", "embedding")
    Warehouse.save(Layout.Pq, "pq_app", codesA, codebook)
    try {
      Warehouse.append(Layout.Ivf.copy(floor = 8), "ivf_app",
        Similarity.ivfAssign(embB, "vec_id", "embedding",
          spark.table("ivf_app_centroids")))
      Warehouse.append(Layout.Pq, "pq_app",
        Similarity.pqEncode(embB, "vec_id", "embedding",
          spark.table("pq_app_codebook")))
      assert(spark.table("ivf_app").count() == emb.count())
      assert(spark.table("pq_app").count() == emb.count() * 8)
      // appended rows carry codes from the STORED model: re-encoding the
      // second half against the stored codebook reproduces them exactly
      val reEnc = Similarity.pqEncode(embB, "vec_id", "embedding",
          spark.table("pq_app_codebook"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      val storedB = spark.table("pq_app").filter(col("id") >= 250)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      assert(storedB == reEnc)
      // recall floor over the appended indexes, probes from BOTH halves
      val probes = emb.filter(col("vec_id") === 0 || col("vec_id") === 499 ||
        col("vec_id") === 250 || col("vec_id") === 100 || col("vec_id") === 400)
      val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
        .select("probe_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOk(df: org.apache.spark.sql.DataFrame): Boolean = {
        val got = df.select("probe_id", "nn_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        exact.groupBy(_._1).forall { case (_, nn) => (nn intersect got).size >= 2 }
      }
      // nprobe 6 of 8, not the oracle's half: a quantizer fit on HALF the
      // corpus has coarser geometry for the unseen half, so the probe set
      // widens to hold the same ≥2-of-3 floor (deterministic fit — this
      // is a fixed property of the fixture, not a flaky margin)
      assert(recallOk(Similarity.ivfCosineTopKFrom(spark.table("ivf_app"),
        spark.table("ivf_app_centroids"), probes, "vec_id", "embedding",
        k = 3, nprobe = 6)), "IVF appended-index recall under floor")
      assert(recallOk(Similarity.pqCosineTopKFrom(spark.table("pq_app"),
        spark.table("pq_app_codebook"), emb, probes, "vec_id", "embedding",
        k = 3, candidates = 150)), "PQ appended-index recall under floor")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_app")
      spark.sql("DROP TABLE IF EXISTS ivf_app_centroids")
      spark.sql("DROP TABLE IF EXISTS pq_app")
      spark.sql("DROP TABLE IF EXISTS pq_app_codebook")
    }
  }

  test("ANALYZE column stats flip a selective join from sort-merge to broadcast") {
    // CBO on, broadcast threshold below the table's raw file size: a
    // digest-filtered slice of the fact table joined to the full table
    // must sort-merge while the optimizer knows nothing (filter can't
    // shrink a size-only estimate), and broadcast once ANALYZE gives it
    // ndv/rowCount to estimate the slice's true cardinality.
    spark.conf.set("spark.sql.cbo.enabled", "true")
    Warehouse.save(Layout.Digest.copy(floor = 4), "queries_stats", dated)
    try {
      val digest = spark.table("queries_stats")
        .select("digest").orderBy("digest").limit(1)
        .collect().head.getString(0)
      def plan(): String = {
        // the slice keeps FULL width: a size-only estimator cannot
        // shrink a bare filter, so only ANALYZE stats can reveal that
        // one digest of four means a quarter of the rows
        val a = spark.table("queries_stats").as("a")
        val slice = spark.table("queries_stats").as("b")
          .filter(col("b.digest") === digest)
        a.join(slice, col("a.digest") === col("b.digest"))
          .queryExecution.executedPlan.toString
      }
      val tableBytes = spark.table("queries_stats")
        .queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (tableBytes / 2).toString)
      val before = plan()
      assert(before.contains("SortMergeJoin") && !before.contains("BroadcastHashJoin"),
        s"expected SMJ before stats:\n$before")
      Warehouse.analyzeTable(spark, "queries_stats")
      val after = plan()
      assert(after.contains("BroadcastHashJoin"),
        s"column stats did not flip the join to broadcast:\n$after")
      // and the stats are durable catalog state, not a session artifact
      val described = spark.sql("DESCRIBE EXTENDED queries_stats digest")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(described.get("distinct_count").exists(_.toLong > 0))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.sql("DROP TABLE IF EXISTS queries_stats")
    }
  }

  test("compactTable collapses append-grown files, keeping layout and answers") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import graft.operators.Dedup
    def bands(lo: Long, hi: Long) = Dedup.simHashBandFrame(
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
      "doc_id", split(col("text"), " "))
    // a build plus three admission-style appends: each append lays down
    // its own file per non-empty bucket
    Warehouse.save(Layout.SimHash.copy(floor = 8), "sh_cmp", bands(0, 125))
    for (lo <- Seq(125L, 250L, 375L))
      Warehouse.append(Layout.SimHash.copy(floor = 8), "sh_cmp",
        bands(lo, lo + 125))
    try {
      val pairsBefore = Dedup
        .simHashNearDupPairsFrom(spark.table("sh_cmp"), "doc_id", maxHamming = 16)
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val (before, after) = Warehouse.compactTable(spark, "sh_cmp")
      // 4 writes × ~8 buckets before; exactly one file per non-empty
      // bucket after
      assert(before > 8, s"append-grown table should exceed 8 files, had $before")
      assert(after <= 8, s"compaction left $after files for 8 buckets")
      // the rewritten table keeps the catalog bucket spec: probes still
      // prune to one bucket, and answers are unchanged
      val probeKey = bands(0, 125)
        .filter(col("doc_id") === 0L && col("band") === 0).collect().head
        .getAs[Long]("key")
      val plan = spark.table("sh_cmp")
        .filter(col("band") === 0 && col("key") === probeKey)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"compacted table lost bucket pruning:\n$plan")
      val pairsAfter = Dedup
        .simHashNearDupPairsFrom(spark.table("sh_cmp"), "doc_id", maxHamming = 16)
        .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairsAfter == pairsBefore)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS sh_cmp")
      spark.sql("DROP TABLE IF EXISTS sh_cmp_compacting")
    }
  }

  test("compactTable preserves a partitioned table's layout and rows") {
    import spark.implicits._
    val day1 = Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"))
    val day2 = Seq((3L, "c", "2024-01-02"))
    def frame(rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "v", "d").withColumn("d", col("d").cast("date"))
    Warehouse.dropWithLocation(spark, "part_cmp")
    frame(day1).write.partitionBy("d").format("parquet").saveAsTable("part_cmp")
    // several small appends into the same partitions
    for (_ <- 1 to 3) frame(day1 ++ day2).write.mode("append")
      .partitionBy("d").format("parquet").saveAsTable("part_cmp")
    try {
      val rowsBefore = spark.table("part_cmp").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString)).sorted
      val (before, after) = Warehouse.compactTable(spark, "part_cmp")
      assert(before > after, s"expected fewer files, had $before -> $after")
      // partition column survives as a partition (pruning still applies)
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("part_cmp"))
      assert(meta.partitionColumnNames == Seq("d"))
      val plan = spark.table("part_cmp")
        .filter(col("d") === "2024-01-02")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(d"),
        s"compacted table lost partition pruning:\n$plan")
      val rowsAfter = spark.table("part_cmp").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toString)).sorted
      assert(rowsAfter.toSeq == rowsBefore.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS part_cmp")
      spark.sql("DROP TABLE IF EXISTS part_cmp_compacting")
    }
  }

  test("persisted SQ8 index: codes in range, dequant error bounded, stored probe recalls exact top-3") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (codes, params) = Similarity.sq8Index(emb, "vec_id", "embedding")
    Warehouse.save(Layout.Sq8.copy(floor = 8), "sq8_idx", codes, params)
    try {
      // every code is an 8-bit level
      val bad = spark.table("sq8_idx")
        .filter(exists(col("code"), c => c < 0 || c > 255)).count()
      assert(bad == 0)
      // midpoint dequantization reconstructs each element within half a
      // level: |x − dq(x)| ≤ (mx − mn)/255/2 + ulp slack
      val p = spark.table("sq8_idx_params").collect().head
      val mins = p.getSeq[Double](0)
      val scales = p.getSeq[Double](1)
      val orig = emb.orderBy("vec_id").limit(5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      val stored = spark.table("sq8_idx").filter(col("id") < 5).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      for ((id, cs) <- stored; (c, i) <- cs.zipWithIndex) {
        val dq = if (scales(i) > 0) mins(i) + (c + 0.5) / scales(i) else mins(i)
        val bound = (if (scales(i) > 0) 0.5 / scales(i) else 0.0) + 1e-9
        assert(math.abs(orig(id)(i) - dq) <= bound,
          s"id=$id dim=$i code=$c dq=$dq x=${orig(id)(i)}")
      }
      // the stored probe path recovers the exact top-3 (3/3 here — the
      // q117 contract floor is ≥2-of-3 with this as its margin)
      val probes = emb.filter(col("vec_id") < 5)
      val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", 3)
        .select("probe_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sq = Similarity.sq8CosineTopKFrom(spark.table("sq8_idx"),
          spark.table("sq8_idx_params"), emb, probes,
          "vec_id", "embedding", k = 3, candidates = 20)
        .select("probe_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sq == exact, s"missed: ${exact -- sq}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sq8_idx")
      spark.sql("DROP TABLE IF EXISTS sq8_idx_params")
    }
  }

  test("persisted inverted index: term lookups bucket-prune, stored search equals direct") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val post = graft.operators.Search.postings(docs, "doc_id", "text")
    Warehouse.save(Layout.Inverted.copy(floor = 8), "inverted_idx", post)
    try {
      // a single-term lookup scans only that term's bucket
      val lookup = spark.table("inverted_idx").filter(col("token") === "hash")
      val plan = lookup.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"term lookup did not bucket-prune:\n$plan")
      // the stored searcher returns exactly the direct-path hits
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val stored = ids(graft.operators.Search.conjunctiveSearch(
        spark.table("inverted_idx"), Seq("hash", "merge")))
      val direct = ids(graft.operators.Search.conjunctiveSearch(
        post, Seq("hash", "merge")))
      assert(stored == direct && stored.nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS inverted_idx")
    }
  }

  test("persisted trigram index: gram probes prune, stored substring search equals direct, append admits") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val firstBatch = docs.filter(col("doc_id") < 150)
    val rest = docs.filter(col("doc_id") >= 150)
    val pp = graft.operators.Search.trigramPostings(firstBatch, "doc_id", "text")
    Warehouse.save(Layout.Trigram.copy(floor = 8), "trigram_idx", pp)
    try {
      // a single-gram probe scans only that gram's bucket
      val lookup = spark.table("trigram_idx").filter(col("gram") === "sca")
      val plan = lookup.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"gram probe did not bucket-prune:\n$plan")
      def ids(post: org.apache.spark.sql.DataFrame,
              corpus: org.apache.spark.sql.DataFrame): Seq[Long] =
        graft.operators.Search.substringSearch(post, corpus, "doc_id",
          "text", "scan slow").collect().map(_.getLong(0)).sorted.toSeq
      val stored = ids(spark.table("trigram_idx"), firstBatch)
      val direct = ids(pp, firstBatch)
      assert(stored == direct && stored.nonEmpty)
      // blind append of the second batch: the grown index finds the
      // full corpus's matches — identical to a from-scratch build
      Warehouse.append(Layout.Trigram.copy(floor = 8), "trigram_idx",
        graft.operators.Search.trigramPostings(rest, "doc_id", "text"))
      val grown = ids(spark.table("trigram_idx"), docs)
      val scratch = ids(
        graft.operators.Search.trigramPostings(docs, "doc_id", "text"), docs)
      assert(grown == scratch && grown.size > stored.size)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS trigram_idx")
    }
  }

  test("persisted positional index: word probes prune, stored phrase search equals direct") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pp = graft.operators.Search.positionalPostings(docs, "doc_id", "text")
    Warehouse.save(Layout.Inverted.copy(floor = 8), "positional_idx", pp)
    try {
      // each phrase word reads only its token's bucket (pos rides along)
      val lookup = spark.table("positional_idx").filter(col("token") === "slow")
      val plan = lookup.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"word probe did not bucket-prune:\n$plan")
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).toSeq
      val stored = ids(graft.operators.Search.phraseDocsFrom(
        spark.table("positional_idx"), "slow query"))
      val direct = ids(graft.operators.Search.phraseDocsFrom(pp, "slow query"))
      assert(stored == direct && stored.nonEmpty)
      // proximity runs off the same stored frame
      val sp = ids(graft.operators.Search.proximityDocs(
        spark.table("positional_idx"), "hash", "join", window = 3))
      val dp = ids(graft.operators.Search.proximityDocs(pp, "hash", "join",
        window = 3))
      assert(sp == dp && sp.nonEmpty)
      // prefix completions: the RANGE predicate reaches the parquet
      // scan (row-group min/max skipping via the within-bucket token
      // sort — hash buckets can't prune a range), and stored ≡ direct
      val pq = graft.operators.Search.prefixCompletions(
        spark.table("positional_idx"), "s", k = 10)
      val pplan = pq.queryExecution.executedPlan.toString
      assert(pplan.contains("StringStartsWith(token,s)"),
        s"prefix predicate not pushed:\n$pplan")
      def toks(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
        df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(toks(pq) == toks(graft.operators.Search.prefixCompletions(
        pp, "s", k = 10)) && toks(pq).nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS positional_idx")
    }
  }

  test("persisted lexical index: stored probe equals direct, probe join leaves stored side unshuffled") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") >= 20)
    val probes = docs.filter(col("doc_id") < 20)
    val tfc = graft.operators.Dedup.cappedLexicalTf(corpus, "doc_id", "text", 400L)
    val norms = graft.operators.Dedup.lexicalNorms(tfc)
    Warehouse.save(Layout.Lexical.copy(floor = 8), "lex_idx", tfc, norms)
    try {
      def rows(tf: org.apache.spark.sql.DataFrame,
               n: org.apache.spark.sql.DataFrame) =
        graft.operators.Dedup.lexicalCosineAgainst(probes, "doc_id", "text",
            tf, n, minSim = 0.8)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSeq
      val stored = rows(spark.table("lex_idx"), spark.table("lex_idx_norms"))
      val direct = rows(tfc, norms)
      assert(stored == direct && stored.nonEmpty)
      // the stored tf scans must read bucketed (the candidate join's
      // big side arrives pre-hashed on tok — no corpus re-exchange)
      val plan = graft.operators.Dedup.lexicalCosineAgainst(probes,
          "doc_id", "text", spark.table("lex_idx"),
          spark.table("lex_idx_norms"), 0.8)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"stored tf scan not bucketed:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS lex_idx")
      spark.sql("DROP TABLE IF EXISTS lex_idx_norms")
    }
  }

  test("rollup partials: blind appends merge on read exchange-free and equal a full recompute") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    import graft.operators.Rollup
    // synthetic events across 7 days × 3 types; three arrival batches;
    // values in integer units per the determinism contract
    val ev = spark.range(0, 3000).select(
      col("id"),
      (col("id") % 7).as("d"),
      concat(lit("t"), col("id") % 3).as("ty"),
      (col("id") % 97).as("v"))
    def partials(batch: org.apache.spark.sql.DataFrame) =
      Rollup.dailyPartials(batch, col("d"), col("ty"), col("v"))
    // arrival split on id % 4 — independent of the (day, type) keys, so
    // every batch hits every key and the stored table REALLY holds
    // duplicate partial rows per key (the thing merge-on-read collapses)
    Warehouse.save(Layout.Rollup.copy(floor = 4), "rollup_tbl",
      partials(ev.filter(col("id") % 4 < 2)))
    Warehouse.append(Layout.Rollup.copy(floor = 4), "rollup_tbl",
      partials(ev.filter(col("id") % 4 === 2)))
    Warehouse.append(Layout.Rollup.copy(floor = 4), "rollup_tbl",
      partials(ev.filter(col("id") % 4 === 3)))
    try {
      // the stored table holds one partial row per key per batch
      assert(spark.table("rollup_tbl").count() > 21)
      // merge-on-read: partitioning on day (bucket key) satisfies the
      // (day, event_type) clustering, so the aggregate needs no exchange
      val merged = Rollup.readRollup(spark, "rollup_tbl")
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"rollup merge-on-read still shuffles:\n$plan")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
      // store → append → append → merge ≡ one aggregate over everything
      val direct = rows(Rollup.finalizeRollup(partials(ev)))
      assert(rows(merged) == direct && direct.size == 21)
      // compaction safety: finalize is invariant under partial-merge
      val compacted = Rollup.mergePartials(spark.table("rollup_tbl"))
      assert(rows(Rollup.finalizeRollup(compacted)) == direct)
    } finally {
      spark.sql("DROP TABLE IF EXISTS rollup_tbl")
    }
  }

  test("distinct-sketch rollup: blind appends union on read; exact at small cardinality") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    import graft.operators.Rollup
    // 40 users active across 3 days × 2 types, arrival split on id % 2
    // — independent of the (day, type) keys (3 and 2 both coprime to
    // the split only through id), so one key's sketches SPAN batches
    // and the estimate really exercises the cross-batch union
    val ev = spark.range(0, 600).select(
      col("id"),
      (col("id") % 3).as("d"),
      concat(lit("t"), (col("id") % 6) < 3).as("ty"),
      (col("id") % 40).as("u"))
    def parts(b: org.apache.spark.sql.DataFrame) =
      Rollup.distinctPartials(b, col("d"), col("ty"), col("u"))
    Warehouse.save(Layout.Rollup.copy(floor = 4), "rollup_sk",
      parts(ev.filter(col("id") % 2 === 0)))
    Warehouse.append(Layout.Rollup.copy(floor = 4), "rollup_sk",
      parts(ev.filter(col("id") % 2 === 1)))
    try {
      val est = Rollup.estimateDistinct(spark.table("rollup_sk"))
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          r.getAs[Number](2).longValue).toMap
      val exact = ev.groupBy("d", "ty")
        .agg(countDistinct("u").as("x"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      // HLL is exact in sparse mode at these cardinalities: the merged
      // cross-batch union must reconstruct every per-key distinct count
      assert(est == exact && exact.values.sum > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS rollup_sk")
    }
  }

  test("digest-bucketed table aggregates per digest without an exchange") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    Warehouse.save(Layout.Digest.copy(floor = 4), "queries_bucketed", dated)
    try {
      val agg = spark.table("queries_bucketed")
        .groupBy("digest").agg(count(lit(1)).as("cnt"), sum("query_time").as("t"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed agg still shuffles:\n$plan")
      assert(agg.count() == wide.select("digest").distinct().count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS queries_bucketed")
    }
  }

  test("migrateSchema: rename+add+cast unify generations; every crash window converges") {
    import org.apache.spark.sql.types.LongType
    val root = Files.createTempDirectory("graft-migrate").toString
    val base = s"$root/docs"
    def hp(p: String) = new org.apache.hadoop.fs.Path(p)
    val fs = hp(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    def writeGenerations(): Unit = {
      if (fs.exists(hp(base))) fs.delete(hp(base), true)
      // gen a: old name `lang`, no n_chars; gen b: new name, int n_chars
      Seq((1L, "aa bb", "en"), (2L, "cc", "de"))
        .toDF("doc_id", "text", "lang").write.parquet(s"$base/gen=a")
      Seq((3L, "dd ee ff", "en", 8))
        .toDF("doc_id", "text", "language", "n_chars")
        .write.parquet(s"$base/gen=b")
    }
    def migrate(): Unit = Warehouse.migrateSchema(spark, base,
      renames = Map("lang" -> "language"),
      casts = Map("n_chars" -> "long"),
      addDefaults = Map("n_chars" -> length(col("text")).cast("long")),
      partitionCols = Seq("gen"))
    def check(): Unit = {
      val out = spark.read.parquet(base) // PLAIN read — no mergeSchema
      assert(out.schema("n_chars").dataType == LongType)
      assert(!out.columns.contains("lang"))
      val rows = out.select("doc_id", "language", "n_chars")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, "en", 5L), (2L, "de", 2L),
        (3L, "en", 8L)))
      assert(!fs.exists(hp(base + "_migrating")) &&
        !fs.exists(hp(base + "_old")))
    }
    // happy path
    writeGenerations(); migrate(); check()
    // window 1: died mid-staging-write — stale half-written _migrating
    writeGenerations()
    fs.mkdirs(hp(base + "_migrating/garbage"))
    migrate(); check()
    // window 2: died between the two renames — live missing, retired
    // copy complete, staging complete; rerun restores + redoes
    writeGenerations()
    val unified = spark.read.option("mergeSchema", "true").parquet(base)
    unified.write.partitionBy("gen").parquet(base + "_migrating")
    assert(fs.rename(hp(base), hp(base + "_old")))
    migrate(); check()
    // window 3: died after the swap, before cleanup — live already
    // migrated, stale _old; the SAME migration re-applied is a no-op
    // on migrated data (rename source absent, defaults all coalesce)
    fs.mkdirs(hp(base + "_old/garbage"))
    migrate(); check()
  }

  test("adaptive buckets: floor without stats, conf overrides, row-count " +
    "stats grow the count, appends follow the stored catalog spec") {
    // 1. raw parquet scan carries no row-count stats -> caller's floor
    //    (the local/bench layout stays byte-identical, r16 verdict item 3)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(Warehouse.adaptiveBuckets(emb, 32) == 32)
    // 2. a row-count-bearing source grows the count: 40M rows at ~4M
    //    rows/bucket -> 10 buckets (metadata-only: Range stats, no job)
    assert(Warehouse.adaptiveBuckets(
      spark.range(40L * 1000 * 1000).toDF(), 8) == 10)
    // ...but never below the floor, never above the 1024 cap
    assert(Warehouse.adaptiveBuckets(
      spark.range(40L * 1000 * 1000).toDF(), 16) == 16)
    assert(Warehouse.adaptiveBuckets(
      spark.range(8L * 1000 * 1000 * 1000).toDF(), 8) == 1024)
    // 3. the session conf is the cluster submission's explicit posture
    spark.conf.set("spark.graft.buckets", "256")
    try assert(Warehouse.adaptiveBuckets(emb, 32) == 256)
    finally spark.conf.unset("spark.graft.buckets")
    // ...taken as given, even below the layout's floor
    spark.conf.set("spark.graft.buckets", "4")
    try assert(Warehouse.adaptiveBuckets(emb, 32) == 4)
    finally spark.conf.unset("spark.graft.buckets")
    // ...and a malformed value is rejected naming the conf
    spark.conf.set("spark.graft.buckets", "x")
    try {
      val e = intercept[IllegalArgumentException](
        Warehouse.adaptiveBuckets(emb, 32))
      assert(e.getMessage.contains("spark.graft.buckets"), e.getMessage)
    } finally spark.conf.unset("spark.graft.buckets")
    // 4. an append follows the STORED table's bucket spec even when the
    //    caller declares a different count (an adaptive save must not be
    //    broken by a floor-sized append batch)
    val postings = graft.operators.Search.trigramPostings(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(30), "doc_id", "text")
    Warehouse.save(Layout.Trigram.copy(floor = 4), "adaptive_tri", postings)
    Warehouse.append(Layout.Trigram.copy(floor = 16), "adaptive_tri", postings)
    val spec = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("adaptive_tri"))
      .bucketSpec
    assert(spec.map(_.numBuckets).contains(4),
      s"append must keep the stored 4-bucket layout, got $spec")
    Warehouse.dropWithLocation(spark, "adaptive_tri")
  }

  test("append never clears an orphaned location; save does") {
    // an in-memory catalog forgets its tables at JVM exit while their
    // managed locations survive: files at the default path, no entry
    val t = "orphan_simhash"
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
    Warehouse.dropWithLocation(spark, t)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = spark.range(3).select(col("id"), col("id").as("key"))
    rows.write.parquet(loc.toString)
    def files = fs.listStatus(loc).map(_.getPath.getName).toSet
    val before = files
    try {
      assert(!spark.catalog.tableExists(t))
      val e = intercept[Exception](Warehouse.append(Layout.SimHash, t, rows))
      assert(e.getMessage.contains("LOCATION_ALREADY_EXISTS"), e.getMessage)
      assert(files == before, "append must leave the orphaned files in place")
      // an overwrite owns the location: it clears the orphan and writes
      Warehouse.save(Layout.SimHash, t, rows.limit(1))
      assert(spark.table(t).count() == 1)
    } finally Warehouse.dropWithLocation(spark, t)
  }

  test("NB params side is derived on every save and append, dropped with " +
    "the family") {
    import spark.implicits._
    val t = "derived_nb"
    def counts(toks: String*) = toks.map(("a", _, 1L)).toDF("_lab", "tok", "c")
    val labels = Seq(("a", 1L, 1L)).toDF("_lab", "tot", "n_docs")
    def vocab = spark.table(Warehouse.sideTable(t, Side.NbParams))
      .select("vocab_size").as[Long].collect().toSeq
    try {
      Warehouse.save(Layout.NaiveBayes, t, counts("x", "y"), labels)
      assert(vocab == Seq(2L))
      Warehouse.append(Layout.NaiveBayes, t, counts("y", "z"), labels)
      assert(vocab == Seq(3L))
    } finally Warehouse.drop(spark, Layout.NaiveBayes, t)
    for (p <- Layout.NaiveBayes.parts(t))
      assert(!spark.catalog.tableExists(p._1), p._1)
  }

  test("layout golden: every family's tables, bucket/sort columns and " +
    "bucket counts read back from the catalog") {
    val f = spark.range(3).select(col("id").as("a"))
    def kf(k: String) = f.withColumn(k, col("a"))
    val emb = spark.range(2).select(col("id"),
      array(lit(1.0), lit(2.0), lit(3.0)).as("emb"))
    Warehouse.save(Layout.Digest, "gl_digest", dated)
    Warehouse.save(Layout.Ann, "gl_ann", kf("key"))
    Warehouse.save(Layout.SimHash, "gl_simhash", kf("key"))
    Warehouse.save(Layout.minHash(), "gl_minhash", kf("key"), kf("doc_id"))
    Warehouse.save(Layout.Inverted, "gl_inverted", kf("token"))
    Warehouse.save(Layout.Winnow, "gl_winnow", kf("fp_hash"))
    Warehouse.save(Layout.Trigram, "gl_trigram", kf("gram"))
    Warehouse.save(Layout.Rollup, "gl_rollup", kf("day"))
    Warehouse.save(Layout.DomainCounts, "gl_domain", kf("reg_domain"))
    Warehouse.save(Layout.UrlKeys, "gl_urlkey", kf("url_key"))
    Warehouse.save(Layout.Lexical, "gl_lexical", kf("tok"), f)
    Warehouse.save(Layout.NaiveBayes, "gl_nb", kf("tok"), f)
    Warehouse.save(Layout.Plain, "gl_centroids", f)
    Warehouse.save(Layout.Plain, "gl_refcounts", f)
    Warehouse.save(Layout.Plain, "gl_bpe", f)
    Warehouse.save(Layout.Plain, "gl_prefix",
      graft.operators.Similarity.withPrefix(emb, "id", "emb", 2))
    Warehouse.save(Layout.Ivf, "gl_ivf", kf("cell"), f)
    Warehouse.save(Layout.Pq, "gl_pq", kf("id"), f)
    Warehouse.save(Layout.Sq8, "gl_sq8", kf("id"), f)
    Warehouse.save(Layout.IvfPq, "gl_ivfpq", kf("cell"), f, f)
    // table -> (bucket = sort column, numBuckets); None = plain table
    val expected: Seq[(String, Option[(String, Int)])] = Seq(
      "gl_digest" -> Some("digest" -> 32),
      "gl_ann" -> Some("key" -> 32),
      "gl_simhash" -> Some("key" -> 32),
      "gl_minhash" -> Some("key" -> 32),
      "gl_minhash_shingles" -> Some("doc_id" -> 32),
      "gl_inverted" -> Some("token" -> 32),
      "gl_winnow" -> Some("fp_hash" -> 32),
      "gl_trigram" -> Some("gram" -> 32),
      "gl_rollup" -> Some("day" -> 8),
      "gl_domain" -> Some("reg_domain" -> 8),
      "gl_urlkey" -> Some("url_key" -> 32),
      "gl_lexical" -> Some("tok" -> 32),
      "gl_lexical_norms" -> None,
      "gl_nb" -> Some("tok" -> 32),
      "gl_nb_labels" -> None,
      "gl_nb_params" -> None,
      "gl_centroids" -> None,
      "gl_refcounts" -> None,
      "gl_bpe" -> None,
      "gl_prefix" -> None,
      "gl_ivf" -> Some("cell" -> 16),
      "gl_ivf_centroids" -> None,
      "gl_pq" -> Some("id" -> 32),
      "gl_pq_codebook" -> None,
      "gl_sq8" -> Some("id" -> 32),
      "gl_sq8_params" -> None,
      "gl_ivfpq" -> Some("cell" -> 16),
      "gl_ivfpq_centroids" -> None,
      "gl_ivfpq_codebook" -> None)
    try {
      val written = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("gl_")).toSet
      assert(written == expected.map(_._1).toSet)
      val cat = spark.sessionState.catalog
      for ((t, want) <- expected) {
        val spec = cat.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t)).bucketSpec
        val got = spec.map { s =>
          assert(s.sortColumnNames == s.bucketColumnNames, s"$t: $s")
          (s.bucketColumnNames, s.numBuckets)
        }
        assert(got == want.map { case (c, n) => (Seq(c), n) }, s"$t: $spec")
      }
    } finally expected.foreach(t => Warehouse.dropWithLocation(spark, t._1))
  }
}
