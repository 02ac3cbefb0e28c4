package graft.operators

import graft.SparkTestSession
import graft.sources.{Layout, Warehouse}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r13 learned/fused operators: distributed k-medians clustering,
  * reciprocal-rank fusion, matryoshka two-stage retrieval, and the
  * multinomial Naive Bayes classifier. */
class LearnedOpsSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  // three tight cosine blobs on orthogonal directions; the 3 SMALLEST
  // ids (0, 1, 2) are the blob anchors, so the k-medians seeds land
  // one per blob
  private def blob(base: Array[Float], ids: Seq[Long], eps: Float) =
    ids.zipWithIndex.map { case (id, i) =>
      (id, base.zipWithIndex.map { case (v, d) =>
        v + (if (d == 3) eps * (i + 1) else 0f)
      }.toSeq)
    }

  private lazy val blobs = {
    val a = blob(Array(1f, 0f, 0f, 0f), Seq(0L, 5L, 6L), 0.01f)
    val b = blob(Array(0f, 1f, 0f, 0f), Seq(1L, 10L, 11L), 0.01f)
    val c = blob(Array(0f, 0f, 1f, 0f), Seq(2L, 20L, 21L), 0.01f)
    (a ++ b ++ c).toDF("id", "vec")
  }

  test("kMedians recovers planted blobs (k=3, 2 rounds)") {
    val got = Similarity.kMedians(blobs, "id", "vec", k = 3, iters = 2)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // seeds: ids 0,1,2 -> clusters 0,1,2; after the UPDATE rounds the
    // three centroids settle one per blob, so every blob is pure
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byCluster == Map(
      0L -> Set(0L, 5L, 6L), 1L -> Set(1L, 10L, 11L),
      2L -> Set(2L, 20L, 21L)), got.toSeq)
  }

  test("kMedians iters=0 assigns against the raw seeds, ties -> smaller cluster") {
    // two identical seed vectors (ids 0,1) -> every row ties on cosine
    // and lands in cluster 0; cluster column is the seed RANK, not id
    val df = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (5L, Seq(1f, 0.1f))
    ).toDF("id", "vec")
    val got = Similarity.kMedians(df, "id", "vec", k = 2, iters = 0)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 0L), (1L, 0L), (5L, 0L)), got.toSeq)
  }

  test("kMedians centroid components are selections: cos hits exactly 1.0 on odd clusters") {
    // cluster of 3 identical vectors: the per-dim low median IS the
    // vector, so the final assignment cosine is exactly 1.0 (rounded)
    val df = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(1f, 0f))
    ).toDF("id", "vec")
    val got = Similarity.kMedians(df, "id", "vec", k = 1, iters = 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.forall(_ == (0L, 1.0)), got.toSeq)
  }

  test("rrfFuse: integer micro-credits, missing ranker contributes nothing, ties -> smaller id") {
    val a = Seq((1L, 1L), (2L, 2L), (4L, 3L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (3L, 2L), (5L, 3L)).toDF("doc_id", "rank")
    val got = Search.rrfFuse(Seq(a, b), kRrf = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // credits: rank1 -> 1000000/61 = 16393, rank2 -> 16129, rank3 -> 15873
    assert(got.toSeq == Seq(
      (1L, 2L, 16393L + 16129L, 2L), // doc2: rank2(A) + rank1(B)
      (2L, 1L, 16393L, 1L),          // doc1: rank1(A)
      (3L, 3L, 16129L, 1L),          // doc3: rank2(B)
      (4L, 4L, 15873L, 1L),          // doc4/doc5 tie on rank3 credit:
      (5L, 5L, 15873L, 1L)           // smaller doc id first
    ), got.toSeq)
  }

  test("matryoshkaTopK with m = corpus degenerates to exact full-dim knnBatch") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.where(col("vec_id") < 2)
    val exact = Similarity.knnBatch(emb, probes, "vec_id", "embedding", k = 3)
      .select("probe_id", "rn", "nn_id", "sim")
      .orderBy("probe_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val two = Similarity.matryoshkaTopK(emb, probes, "vec_id", "embedding",
        prefixDim = 16, m = 499, k = 3)
      .select("probe_id", "rn", "nn_id", "sim")
      .orderBy("probe_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(two.toSeq == exact.toSeq)
  }

  test("matryoshkaTopK stage-1 cut is real: a misleading prefix excludes the true NN at m=1") {
    // probe p: prefix matches doc 30 better, but full-dim NN is doc 40
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),            // probe
      (30L, Seq(1f, 0f, 1f, 1f)),           // prefix (dims 1-2) aligned, tail off
      (40L, Seq(0.9f, 0.1f, 0.01f, 0.01f))  // prefix slightly off, full-dim closest
    ).toDF("id", "vec")
    val probes = emb.where(col("id") === 1L)
    val full = Similarity.knnBatch(emb, probes, "id", "vec", k = 1)
      .collect().map(_.getLong(1)) // nn_id
    assert(full.toSeq == Seq(40L))
    val got = Similarity.matryoshkaTopK(emb, probes, "id", "vec",
        prefixDim = 2, m = 1, k = 1)
      .collect().map(r => r.getLong(2))
    assert(got.toSeq == Seq(30L), "m=1 must keep only the prefix winner")
  }

  test("matryoshkaTopKStored equals in-memory matryoshkaTopK; mismatched stored prefixDim fails loudly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.where(col("vec_id") < 2)
    val tbl = "graft_bench_mrl_spec"
    graft.sources.Warehouse.dropWithLocation(spark, tbl)
    Warehouse.save(Layout.Plain, tbl,
      Similarity.withPrefix(emb, "vec_id", "embedding", 16))
    val direct = Similarity.matryoshkaTopK(emb, probes, "vec_id",
        "embedding", prefixDim = 16, m = 20, k = 3)
      .orderBy("probe_id", "rn").collect().toSeq
    val stored = Similarity.matryoshkaTopKStored(spark.table(tbl), probes,
        "vec_id", "embedding", "pre", prefixDim = 16, m = 20, k = 3)
      .orderBy("probe_id", "rn").collect().toSeq
    assert(stored == direct)
    // the r13-ADVICE guard: a layout saved at prefixDim=16 probed at 8
    // must fail loudly, not silently score unequal-length vectors
    val ex = intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopKStored(spark.table(tbl), probes,
        "vec_id", "embedding", "pre", prefixDim = 8, m = 20, k = 3)
    }
    assert(ex.getMessage.contains("!= prefixDim"))
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopKStored(spark.table(tbl), probes,
        "vec_id", "embedding", "pre", prefixDim = 0, m = 20, k = 3)
    }
    graft.sources.Warehouse.dropWithLocation(spark, tbl)
  }

  test("naiveBayesClassify: planted vocabularies, tie -> lexicographically smaller label") {
    val train = Seq(
      (0L, "x x y", "a"), (2L, "x y y", "a"),
      (4L, "z z y", "b"), (6L, "z y y", "b")
    ).toDF("doc_id", "text", "lang")
    val test_ = Seq(
      (1L, "x x", "a"),   // x only in a -> pred a
      (3L, "z z", "b"),   // z only in b -> pred b
      (5L, "y", "a"),     // y symmetric, priors equal -> tie -> 'a'
      (7L, "qqq", "b")    // OOV-only doc drops out
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.naiveBayesClassify(train, test_,
        "doc_id", "text", "lang")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, "a", "a"), (3L, "b", "b"), (5L, "a", "a")),
      got.toSeq)
  }

  test("labelPropagation holds two dense communities across a bridge that CC merges") {
    // two K4 blobs bridged by one edge 4-10: one CONNECTED COMPONENT,
    // but frequency voting settles each blob on its own label
    val k4a = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4b = Seq((10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L))
    val pairs = (k4a ++ k4b ++ Seq((4L, 10L))).toDF("da", "db")
    val lpa = Graph.labelPropagation(pairs, "da", "db", iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(lpa(_) == 1L), lpa)
    assert(Seq(10L, 11L, 12L, 13L).forall(lpa(_) == 10L), lpa)
    val cc = Dedup.dedupClusters(pairs, "da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc.values.toSet == Set(1L), "CC must merge the bridge into one label")
  }

  test("labelPropagation vote ties break toward the smaller label") {
    // star: center 5 sees labels {1, 2} once each after round 1 -> 1
    val pairs = Seq((5L, 1L), (5L, 2L)).toDF("da", "db")
    val got = Graph.labelPropagation(pairs, "da", "db", iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // leaves adopt the center's label; the center takes min(1, 2)
    assert(got == Map(5L -> 1L, 1L -> 5L, 2L -> 5L), got)
  }

  test("medianCentroidsSelect equals the rank-window medianCentroids (selection parity)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("lab", pmod(col("vec_id"), lit(3L)).cast("int"))
    val win = Similarity.medianCentroids(emb, "vec_id", "embedding", "lab")
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val sel = Similarity.medianCentroidsSelect(emb, "vec_id", "embedding", "lab")
      .orderBy("label").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    assert(sel.toSeq == win.toSeq)
  }

  test("medianCentroidsSelect parity holds with heavy duplicate values") {
    import spark.implicits._
    // duplicates straddle the bracket boundary: all-equal dim, a
    // two-value dim, and an odd-count dim
    val df = Seq(
      (1L, Seq(1f, 0f, 5f)), (2L, Seq(1f, 0f, 5f)), (3L, Seq(1f, 2f, 7f)),
      (4L, Seq(1f, 2f, 9f)), (5L, Seq(1f, 2f, 3f))
    ).toDF("id", "vec").withColumn("lab", lit(0))
    val win = Similarity.medianCentroids(df, "id", "vec", "lab")
      .collect().map(_.getSeq[Float](1))
    val sel = Similarity.medianCentroidsSelect(df, "id", "vec", "lab")
      .collect().map(_.getSeq[Float](1))
    assert(sel.toSeq == win.toSeq && win.head == Seq(1f, 2f, 5f))
  }

  test("k-medians centroids at rest: stored assignment equals direct assignment") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val train = emb.filter(col("vec_id") % 2 === 0)
    val test_ = emb.filter(col("vec_id") % 2 === 1)
    val cents = Similarity.kMediansCentroids(train, "vec_id", "embedding",
      k = 4, iters = 2)
    val direct = Similarity.classifyNearestCentroid(test_, cents,
        "vec_id", "embedding", "vec_id")
      .select("vec_id", "assigned")
      .orderBy("vec_id").collect().toSeq
    val tbl = "graft_bench_kmed_spec"
    graft.sources.Warehouse.dropWithLocation(spark, tbl)
    Warehouse.save(Layout.Plain, tbl, cents)
    val stored = Similarity.classifyNearestCentroid(test_, spark.table(tbl),
        "vec_id", "embedding", "vec_id")
      .select("vec_id", "assigned")
      .orderBy("vec_id").collect().toSeq
    assert(stored == direct)
    // the fitted model is k rows and every cluster is populated
    assert(cents.count() == 4L)
    assert(direct.map(_.getInt(1)).toSet == Set(0, 1, 2, 3))
    graft.sources.Warehouse.dropWithLocation(spark, tbl)
  }

  test("NB model at rest: save + blind append + merge-on-read equals one-shot train") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test_ = docs.filter(col("doc_id") % 2 === 1)
    val direct = TextAnalysis.naiveBayesClassify(train, test_,
        "doc_id", "text", "lang")
      .orderBy("doc_id").collect().toSeq
    val tbl = "graft_bench_nbmodel_spec"
    graft.sources.Warehouse.dropWithLocation(spark, tbl)
    graft.sources.Warehouse.dropWithLocation(spark, s"${tbl}_labels")
    val (c1, l1) = TextAnalysis.naiveBayesFit(
      train.filter(col("doc_id") % 4 === 0), "doc_id", "text", "lang")
    Warehouse.save(Layout.NaiveBayes, tbl, c1, l1)
    // after the first save, _params holds the batch-1 vocab exactly
    val vocab1 = spark.table(s"${tbl}_params")
      .select("vocab_size").head().getLong(0)
    assert(vocab1 == c1.select("tok").distinct().count())
    val (c2, l2) = TextAnalysis.naiveBayesFit(
      train.filter(col("doc_id") % 4 === 2), "doc_id", "text", "lang")
    Warehouse.append(Layout.NaiveBayes, tbl, c2, l2)
    // vocab is NOT additive: the append refreshed _params to the
    // distinct-token count of the UNION (shared tokens counted once),
    // and the table stays one-row
    val params = spark.table(s"${tbl}_params").collect()
    assert(params.length == 1)
    val vocab2 = params.head.getLong(0)
    assert(vocab2 ==
      c1.select("tok").union(c2.select("tok")).distinct().count())
    assert(vocab2 <=
      vocab1 + c2.select("tok").distinct().count())
    // the stored serving path (scan-free |V| from _params) equals the
    // one-shot classify bit for bit
    val stored = TextAnalysis.naiveBayesScoreStored(
        spark, tbl, test_, "doc_id", "text", "lang")
      .orderBy("doc_id").collect().toSeq
    assert(stored == direct)
    // and the explicit-vocab scorer agrees with the scan path
    val scanned = TextAnalysis.naiveBayesScoreFrom(
        spark.table(tbl), spark.table(s"${tbl}_labels"), test_,
        "doc_id", "text", "lang")
      .orderBy("doc_id").collect().toSeq
    assert(scanned == direct)
    graft.sources.Warehouse.dropWithLocation(spark, tbl)
    graft.sources.Warehouse.dropWithLocation(spark, s"${tbl}_labels")
    graft.sources.Warehouse.dropWithLocation(spark, s"${tbl}_params")
  }

  test("naiveBayesClassify scores are negative log-posteriors, add-one smoothing keeps zero-count labels finite") {
    val train = Seq((0L, "x x", "a"), (2L, "z z", "b")).toDF("doc_id", "text", "lang")
    val test_ = Seq((1L, "x z", "a")).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.naiveBayesClassify(train, test_,
        "doc_id", "text", "lang")
      .collect().map(r => (r.getString(2), r.getDouble(3)))
    // symmetric evidence (one x, one z), equal priors -> tie -> 'a';
    // score = ln(1/2) + ln(3/4) + ln(1/4), all finite
    assert(got.length == 1 && got.head._1 == "a" && got.head._2 < 0.0
      && !got.head._2.isNaN && !got.head._2.isInfinite, got.toSeq)
  }
}
