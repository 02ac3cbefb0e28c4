package graft.streaming

import graft.SparkTestSession
import graft.sources.{Layout, Warehouse}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Online admission control: a streamed corpus deduped against the
  * at-rest SimHash index — within-batch clustering, cross-batch
  * rejection through the stored table, survivors appended to the index
  * so the NEXT batch sees them. */
class StreamingDedupSpec extends AnyFunSuite with SparkTestSession {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // ~40 tokens per doc: a one-token mutation moves only a few of the 64
  // simhash bits (near-dup at maxHamming=16); disjoint vocabularies land
  // ~32 bits apart (stranger)
  private def doc(stem: String): String =
    (0 until 40).map(i => s"$stem$i").mkString(" ")
  private def mutate(text: String, i: Int): String =
    text.split(" ").updated(i, s"changed$i").mkString(" ")

  test("streamed batches admit one representative and reject index dups") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-sdx-src").toString
    val outDir = Files.createTempDirectory("graft-sdx-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-sdx-ckpt").toString
    val tbl = "graft_bench_stream_sdx"
    Warehouse.dropWithLocation(spark, tbl)

    val base = doc("alpha")
    def runOnce(): Unit = {
      val q = StreamingDedup.simHashAdmission(
        spark.readStream.schema(schema).parquet(srcDir),
        "doc_id", "text", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: 1 and 2 are near-dups of each other (min-id 1 survives),
    // 3 is a stranger
    Seq((1L, base), (2L, mutate(base, 5)), (3L, doc("beta")))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()
    // batch 2: 4 is a near-dup of ADMITTED 1 (only the stored index can
    // reject it); 5 is a stranger
    Seq((4L, mutate(base, 7)), (5L, doc("gamma")))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()

    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L, 5L), s"admitted $admitted")
    // the index holds exactly the survivors' band rows (4 bands each)
    val idx = spark.table(tbl)
    assert(idx.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    assert(idx.count() == 12L)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("minHash admission: streamed batches dedup by Jaccard through the stored index") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-mhx-src").toString
    val outDir = Files.createTempDirectory("graft-mhx-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-mhx-ckpt").toString
    val tbl = "graft_bench_stream_mhx"
    Warehouse.dropWithLocation(spark, tbl)
    Warehouse.dropWithLocation(spark, s"${tbl}_shingles")

    // a one-token mutation of a 40-token doc keeps Jaccard ≈ 0.85 on
    // 3-gram shingles (near-dup at threshold 0.6); disjoint vocab → 0
    val base = doc("alpha")
    def runOnce(): Unit = {
      val q = StreamingDedup.minHashAdmission(
        spark.readStream.schema(schema).parquet(srcDir),
        "doc_id", "text", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: 1 and 2 are fuzzy dups of each other (min-id 1 survives),
    // 3 is a stranger, 6 is too short to shingle (must still be admitted)
    Seq((1L, base), (2L, mutate(base, 5)), (3L, doc("beta")), (6L, "hi"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()
    // batch 2: 4 is a fuzzy dup of ADMITTED 1 (only the stored index can
    // reject it); 5 is a stranger
    Seq((4L, mutate(base, 7)), (5L, doc("gamma")))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()

    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L, 5L, 6L), s"admitted $admitted")
    // the index holds exactly the shingled survivors' rows (16 bands
    // each; doc 6 has no shingles so no index rows — by construction)
    val idx = spark.table(tbl)
    assert(idx.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    assert(idx.count() == 48L)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_shingles")
  }

  test("lexical admission: streamed batches dedup by cosine through the stored index") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-lex-src").toString
    val outDir = Files.createTempDirectory("graft-lex-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-lex-ckpt").toString
    val tbl = "graft_bench_stream_lex"
    Warehouse.dropWithLocation(spark, tbl)
    Warehouse.dropWithLocation(spark, s"${tbl}_norms")

    // one mutated token in 40 distinct → cosine 39/40 = 0.975 ≥ 0.8;
    // disjoint vocabularies → no candidate row at all
    val base = doc("alpha")
    def runOnce(): Unit = {
      val q = StreamingDedup.lexicalAdmission(
        spark.readStream.schema(schema).parquet(srcDir),
        "doc_id", "text", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: 1 and 2 are cosine dups of each other (min-id 1 wins),
    // 3 is a stranger, 6 is EMPTY text (no tf rows — must still admit)
    Seq((1L, base), (2L, mutate(base, 5)), (3L, doc("beta")), (6L, ""))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()
    // batch 2: 4 duplicates ADMITTED 1 (only the stored index can
    // reject it); 5 is a stranger
    Seq((4L, mutate(base, 7)), (5L, doc("gamma")))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()

    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L, 5L, 6L), s"admitted $admitted")
    // the index holds exactly the survivors' capped tf rows (40 per
    // worded doc; 6 is empty → absent) and one norm row per worded doc
    val idx = spark.table(tbl)
    assert(idx.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    assert(idx.count() == 120L)
    val norms = spark.table(s"${tbl}_norms")
    assert(norms.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 40L), (3L, 40L), (5L, 40L)))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_norms")
  }

  test("span admission: trigram containment rejects near-verbatim copies and quoted subspans") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-tri-src").toString
    val outDir = Files.createTempDirectory("graft-tri-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-tri-ckpt").toString
    val tbl = "graft_bench_stream_tri"
    Warehouse.dropWithLocation(spark, tbl)

    val base = doc("alpha")
    def runOnce(): Unit = {
      val q = StreamingDedup.trigramAdmission(
        spark.readStream.schema(schema).parquet(srcDir),
        "doc_id", "text", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: 2 = base + a short tail (≈0.94 of its grams contained
    // in 1 → within-batch reject); 3 is a stranger; 6 is sub-trigram
    // text (no gram rows — must still admit)
    Seq((1L, base), (2L, base + " tail7 tail8"), (3L, doc("beta")),
        (6L, "ab"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()
    // batch 2: 4 = base + one word (only the STORED index can reject
    // it); 5 is a stranger; 7 is a pure SUBSPAN of base (containment
    // 1.0 — the quoted-wholesale signal this axis exists for)
    Seq((4L, base + " coda9"), (5L, doc("gamma")),
        (7L, base.split(" ").take(20).mkString(" ")))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()

    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L, 5L, 6L), s"admitted $admitted")
    // the index holds exactly the worded survivors' gram postings
    val idx = spark.table(tbl)
    assert(idx.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    // replaying an already-admitted batch self-rejects (100% contained)
    StreamingDedup.admitBatchTrigram(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", tbl, outDir)
    assert(spark.read.parquet(outDir).count() == 4L)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("admitBatch is the batch API: day-2 partition against a standing index") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft-sdx-b-out").toString + "/o"
    val tbl = "graft_bench_batch_sdx"
    Warehouse.dropWithLocation(spark, tbl)
    val base = doc("delta")
    StreamingDedup.admitBatch(Seq((10L, base)).toDF("doc_id", "text"),
      "doc_id", "text", tbl, outDir)
    StreamingDedup.admitBatch(
      Seq((11L, mutate(base, 3)), (12L, doc("epsilon"))).toDF("doc_id", "text"),
      "doc_id", "text", tbl, outDir)
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(10L, 12L), s"admitted $admitted")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("manifest protocol: every crash window replays to exactly-once output") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft-mfp-out").toString + "/out"
    val tbl = "graft_bench_manifest_tri"
    Warehouse.dropWithLocation(spark, tbl)
    val base = doc("alpha")

    // batch 0: normal commit — manifest written, used, deleted
    StreamingDedup.admitBatchTrigram(
      Seq((1L, base), (2L, doc("beta"))).toDF("doc_id", "text"),
      "doc_id", "text", tbl, outDir, batchId = Some(0L))
    assert(spark.read.parquet(outDir).count() == 2L)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      StreamingDedup.manifestDir(outDir, 0L))), "manifest not cleaned up")

    // window A — crash AFTER manifest, BEFORE index+output: plant a
    // committed manifest for batch 1 and replay. Recovery must commit
    // the manifest's decision (doc 7), not recompute from the input.
    val s7 = Seq((7L, doc("gamma"))).toDF("doc_id", "text")
    s7.write.parquet(StreamingDedup.manifestDir(outDir, 1L))
    StreamingDedup.admitBatchTrigram(s7, "doc_id", "text", tbl, outDir,
      batchId = Some(1L))
    val afterA = spark.read.parquet(outDir)
    assert(afterA.filter($"doc_id" === 7L).count() == 1L, "survivor lost")
    assert(spark.table(tbl).filter($"doc_id" === 7L).count() > 0L,
      "index rows missing after recovery")

    // window B — crash AFTER index append, BEFORE output: plant the
    // manifest AND pre-append the index rows for doc 8. Recovery must
    // write the output row WITHOUT duplicating index postings.
    val s8 = Seq((8L, doc("delta"))).toDF("doc_id", "text")
    s8.write.parquet(StreamingDedup.manifestDir(outDir, 2L))
    Warehouse.append(Layout.Trigram, tbl,
      graft.operators.Search.trigramPostings(s8, "doc_id", "text"))
    val idxRows8 = spark.table(tbl).filter($"doc_id" === 8L).count()
    StreamingDedup.admitBatchTrigram(s8, "doc_id", "text", tbl, outDir,
      batchId = Some(2L))
    assert(spark.read.parquet(outDir).filter($"doc_id" === 8L).count() == 1L)
    assert(spark.table(tbl).filter($"doc_id" === 8L).count() == idxRows8,
      "recovery duplicated index postings")

    // window C — crash AFTER everything but the checkpoint commit (no
    // manifest left): a full same-batchId replay recomputes, the index
    // self-rejects every doc, and the output must NOT gain duplicates.
    StreamingDedup.admitBatchTrigram(
      Seq((1L, base), (2L, doc("beta"))).toDF("doc_id", "text"),
      "doc_id", "text", tbl, outDir, batchId = Some(0L))
    val byId = spark.read.parquet(outDir).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.values.forall(_ == 1L), s"duplicate output rows: $byId")
    assert(byId.keySet == Set(1L, 2L, 7L, 8L), s"row set: ${byId.keySet}")

    // torn manifest (no _SUCCESS) carries no decision: it is wiped and
    // the round recomputes normally
    val torn = new org.apache.hadoop.fs.Path(
      StreamingDedup.manifestDir(outDir, 3L))
    fs.mkdirs(torn)
    fs.create(new org.apache.hadoop.fs.Path(torn, "part-junk")).close()
    StreamingDedup.admitBatchTrigram(
      Seq((9L, doc("epsilon"))).toDF("doc_id", "text"),
      "doc_id", "text", tbl, outDir, batchId = Some(3L))
    assert(spark.read.parquet(outDir).filter($"doc_id" === 9L).count() == 1L)
    assert(!fs.exists(torn), "torn manifest not wiped")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("manifest protocol: two-table minhash repair appends only the missing half") {
    import spark.implicits._
    import graft.operators.Dedup
    val outDir = Files.createTempDirectory("graft-mfp2-out").toString + "/out"
    val tbl = "graft_bench_manifest_mhx"
    Warehouse.dropWithLocation(spark, tbl)
    Warehouse.dropWithLocation(spark, s"${tbl}_shingles")
    // establish both tables with batch 0
    StreamingDedup.admitBatchMinHash(
      Seq((1L, doc("alpha"))).toDF("doc_id", "text"),
      "doc_id", "text", tbl, outDir, batchId = Some(0L))
    // crash between the band write and the shingle write for doc 2:
    // manifest + bands exist, shingles do not
    val s2 = Seq((2L, doc("beta"))).toDF("doc_id", "text")
    s2.write.parquet(StreamingDedup.manifestDir(outDir, 1L))
    val sh2 = Dedup.shingles(s2, "doc_id", "text", 3)
    val (_, bandLayout) = Layout.minHash().parts(tbl).head
    Warehouse.append(bandLayout, tbl,
      Dedup.minHashBandFrameFromShingles(sh2, "doc_id"))
    val bandRows2 = spark.table(tbl).filter($"doc_id" === 2L).count()
    StreamingDedup.admitBatchMinHash(s2, "doc_id", "text", tbl, outDir,
      batchId = Some(1L))
    assert(spark.table(tbl).filter($"doc_id" === 2L).count() == bandRows2,
      "repair duplicated the committed band rows")
    assert(spark.table(s"${tbl}_shingles").filter($"doc_id" === 2L).count() > 0L,
      "repair did not append the missing shingle rows")
    assert(spark.read.parquet(outDir).filter($"doc_id" === 2L).count() == 1L)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_shingles")
  }

  test("semantic admission: streamed batches dedup by embedding cosine through the stored index") {
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val srcDir = Files.createTempDirectory("graft-sem-src").toString
    val outDir = Files.createTempDirectory("graft-sem-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-sem-ckpt").toString
    val tbl = "graft_bench_stream_sem"
    Warehouse.dropWithLocation(spark, tbl)
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // deterministic pseudo-random unit-ish vectors; near() scales and
    // nudges one element → cosine ≈ 0.9999 (≥ 0.9), strangers ≈ 0
    def vec(seed: Int): Seq[Float] = Seq.tabulate(64)(i =>
      ((((seed * 31 + i) * 2654435761L) % 1000L).toFloat / 1000f) - 0.3f)
    def near(v: Seq[Float], eps: Float): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => if (i == 0) x + eps else x * 1.001f }
    val base = vec(1)
    def runOnce(): Unit = {
      val q = StreamingDedup.semanticAdmission(
        spark.readStream.schema(embSchema).parquet(srcDir),
        "vec_id", "embedding", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }
    // batch 1: 1 and 2 are semantic dups (min-id 1 wins), 3 a stranger
    Seq((1L, base), (2L, near(base, 0.01f)), (3L, vec(7)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(srcDir)
    runOnce()
    // batch 2: 4 duplicates ADMITTED 1 (only the stored index can
    // reject it); 5 is a stranger
    Seq((4L, near(base, 0.02f)), (5L, vec(9)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(srcDir)
    runOnce()
    val admitted = spark.read.parquet(outDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L, 5L), s"admitted $admitted")
    // the index holds exactly the survivors' bucket rows: tables=8 per id
    val idx = spark.table(tbl)
    assert(idx.select("id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    assert(idx.count() == 24L)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("winnowing admission: streamed batches dedup by shared fingerprints through the stored index") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-wnx-src").toString
    val outDir = Files.createTempDirectory("graft-wnx-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-wnx-ckpt").toString
    val tbl = "graft_bench_stream_wnx"
    Warehouse.dropWithLocation(spark, tbl)

    // a one-token mutation of a 40-token doc leaves long shared runs
    // on both sides — the winnowing guarantee samples common
    // fingerprints from any run >= w+k-1 = 6 words, far above the
    // minShared=3 bar; disjoint vocabularies share nothing
    val base = doc("alpha")
    def runOnce(): Unit = {
      val q = StreamingDedup.winnowAdmission(
        spark.readStream.schema(schema).parquet(srcDir),
        "doc_id", "text", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }

    // batch 1: 1 and 2 are near-copies (min-id 1 survives), 3 is a
    // stranger, 6 is too short to gram (admitted by contract)
    Seq((1L, base), (2L, mutate(base, 5)), (3L, doc("beta")), (6L, "hi"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()
    // batch 2: 4 is a near-copy of ADMITTED 1 (only the stored index
    // can reject it); 5 is a stranger
    Seq((4L, mutate(base, 7)), (5L, doc("gamma")))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()

    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L, 5L, 6L), s"admitted $admitted")
    // the index holds selections for the grammable survivors only
    val idx = spark.table(tbl)
    assert(idx.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("domain-cap admission: lifetime quota per registered domain across batches and replays") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val srcDir = Files.createTempDirectory("graft-dcx-src").toString
    val outDir = Files.createTempDirectory("graft-dcx-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-dcx-ckpt").toString
    val tbl = "graft_bench_stream_dcx"
    Warehouse.dropWithLocation(spark, tbl)
    val urlSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("url", StringType)))
    def runOnce(): Unit = {
      val q = StreamingDedup.domainCapAdmission(
        spark.readStream.schema(urlSchema).parquet(srcDir),
        "doc_id", "url", tbl, outDir, ckpt, cap = 2L)
      q.processAllAvailable(); q.stop()
    }
    def u(host: String, p: Long) = s"https://$host/p/$p"
    // batch 1: three docs on a.com (cap 2 -> content-keyed pick of 2),
    // one on b.org, one malformed URL (quarantine domain)
    Seq((1L, u("www.a.com", 1)), (2L, u("a.com", 2)), (3L, u("news.a.com", 3)),
      (4L, u("b.org", 4)), (5L, "not a url"))
      .toDF("doc_id", "url").write.mode("append").parquet(srcDir)
    runOnce()
    val after1 = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val aAfter1 = after1.intersect(Set(1L, 2L, 3L))
    assert(aAfter1.size == 2, s"a.com quota: $after1")
    assert(after1.contains(4L) && after1.contains(5L))
    // batch 2: a.com is FULL (lifetime quota, enforced via the standing
    // counts — only the stored table can know); b.org has one slot left
    Seq((6L, u("a.com", 6)), (7L, u("blog.b.org", 7)), (8L, u("b.org", 8)),
      (9L, u("c.net", 9)))
      .toDF("doc_id", "url").write.mode("append").parquet(srcDir)
    runOnce()
    val after2 = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!after2.contains(6L), s"a.com over quota: $after2")
    assert(after2.intersect(Set(7L, 8L)).size == 1, s"b.org quota: $after2")
    assert(after2.contains(9L))
    // replay: a foreachBatch restart re-delivers batch 2 — the
    // batch-stamped counts collapse on read and the manifest protocol
    // keeps the output exactly-once
    val rows2 = spark.read.parquet(outDir).count()
    StreamingDedup.admitBatchDomainCap(
      Seq((6L, u("a.com", 6)), (7L, u("blog.b.org", 7)), (8L, u("b.org", 8)),
        (9L, u("c.net", 9))).toDF("doc_id", "url"),
      "doc_id", "url", tbl, outDir, cap = 2L, batchId = Some(1L))
    assert(spark.read.parquet(outDir).count() == rows2, "replay duplicated output")
    val merged = StreamingDedup.domainCountsOf(spark, tbl)
    assert(merged.agg(sum("n_used")).head.getLong(0) == rows2,
      "counts drifted from admitted output")
    // quota arithmetic: no domain exceeds the cap
    assert(merged.filter(col("n_used") > 2L).isEmpty)
    // maintenance: the batch-stamped partials table compacts through
    // the generic staging-rename path with merge-on-read unchanged
    // (append history collapses to <= buckets files, counts identical)
    val before = merged.orderBy("reg_domain").collect()
    val (nb, na) = Warehouse.compactTable(spark, tbl)
    assert(na <= nb)
    assert(StreamingDedup.domainCountsOf(spark, tbl)
      .orderBy("reg_domain").collect().sameElements(before))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("domain-cap: seeded history (negative stamps) does not swallow micro-batch 0") {
    // r15-advice regression: the committed-probe keys on the stamp, and
    // streaming bids start at 0 — history seeded at stamp 0 made the
    // first micro-batch look already-committed and it vanished. Seeds
    // now live in the negative namespace; batch 0 must produce output.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val srcDir = Files.createTempDirectory("graft-dcs-src").toString
    val outDir = Files.createTempDirectory("graft-dcs-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-dcs-ckpt").toString
    val tbl = "graft_bench_stream_dcseed"
    Warehouse.dropWithLocation(spark, tbl)
    // seeded history: a.com already used 1 of its 2 slots
    Warehouse.save(Layout.DomainCounts, tbl,
      Seq(("a.com", 1L, -1L)).toDF("reg_domain", "n", "batch_id"))
    val urlSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("url", StringType)))
    Seq((1L, "https://a.com/p/1"), (2L, "https://www.a.com/p/2"),
      (3L, "https://b.org/p/3"))
      .toDF("doc_id", "url").write.mode("append").parquet(srcDir)
    val q = StreamingDedup.domainCapAdmission(
      spark.readStream.schema(urlSchema).parquet(srcDir),
      "doc_id", "url", tbl, outDir, ckpt, cap = 2L)
    q.processAllAvailable(); q.stop()
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch 0 ran: b.org admitted, and a.com got exactly ONE more doc
    // (seeded usage 1 + 1 admitted = cap 2)
    assert(admitted.contains(3L), s"micro-batch 0 swallowed: $admitted")
    assert(admitted.intersect(Set(1L, 2L)).size == 1, s"seed ignored: $admitted")
    // merged counts: seed row + batch-0 partials both contribute
    val aUsed = StreamingDedup.domainCountsOf(spark, tbl)
      .filter(col("reg_domain") === "a.com").head.getLong(1)
    assert(aUsed == 2L)
    // admission rounds may not stamp into the seeded namespace
    intercept[IllegalArgumentException] {
      StreamingDedup.admitBatchDomainCap(
        Seq((9L, "https://c.net/p/9")).toDF("doc_id", "url"),
        "doc_id", "url", tbl, outDir, cap = 2L, batchId = Some(-5L))
    }
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("domain-cap: compactEvery cadence mid-stream leaves merge-on-read and quota unchanged") {
    // the r15-verdict maintenance ask wired in: compaction fires
    // BETWEEN micro-batches of one streaming run; the second batch's
    // quota must still see the first batch's (now-compacted) history,
    // and the file count must not accrete one-file-per-append
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val srcDir = Files.createTempDirectory("graft-dcc-src").toString
    val outDir = Files.createTempDirectory("graft-dcc-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-dcc-ckpt").toString
    val tbl = "graft_bench_stream_dccomp"
    Warehouse.dropWithLocation(spark, tbl)
    val urlSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("url", StringType)))
    def runOnce(): Unit = {
      val q = StreamingDedup.domainCapAdmission(
        spark.readStream.schema(urlSchema).parquet(srcDir),
        "doc_id", "url", tbl, outDir, ckpt, cap = 2L, compactEvery = 1)
      q.processAllAvailable(); q.stop()
    }
    Seq((1L, "https://a.com/p/1"), (2L, "https://www.a.com/p/2"))
      .toDF("doc_id", "url").write.mode("append").parquet(srcDir)
    runOnce() // batch 0 admits both, then compacts
    val files1 = Warehouse.tableFileCount(spark, tbl)
    Seq((3L, "https://a.com/p/3"), (4L, "https://b.org/p/4"))
      .toDF("doc_id", "url").write.mode("append").parquet(srcDir)
    runOnce() // batch 1: a.com full (compacted history must say 2)
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 2L, 4L), s"compacted history lost: $admitted")
    val merged = StreamingDedup.domainCountsOf(spark, tbl)
      .orderBy("reg_domain").collect()
    assert(merged.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a.com", 2L), ("b.org", 1L)))
    // cadence holds the file count at the compacted level: at most one
    // file per NON-EMPTY bucket (2 domains here), not the accreted
    // one-more-file-per-append level (batch0 file + 2 batch1 files +
    // the seed = 3+ without compaction)
    assert(files1 == 1)
    assert(Warehouse.tableFileCount(spark, tbl) <= 2)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("url-dedup admission: canonical twins collapse within batch, stored keys reject, replays exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val srcDir = Files.createTempDirectory("graft-udx-src").toString
    val outDir = Files.createTempDirectory("graft-udx-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-udx-ckpt").toString
    val tbl = "graft_bench_stream_urlkeys"
    Warehouse.dropWithLocation(spark, tbl)
    val urlSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("url", StringType)))
    def runOnce(): Unit = {
      val q = StreamingDedup.urlDedupAdmission(
        spark.readStream.schema(urlSchema).parquet(srcDir),
        "doc_id", "url", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }
    // batch 1: docs 1/2/3 are encoding twins of ONE resource (tracking
    // params, fragment+case, punycode host); 4 is distinct; 5 invalid
    Seq((1L, "https://a.com/p/1?utm_source=x"),
      (2L, "https://A.COM/p/1#frag"),
      (3L, "https://xn--a-0fa.com/p/9"), // decodes to a different host — distinct
      (4L, "https://b.org/p/2"),
      (5L, "not a url"))
      .toDF("doc_id", "url").write.mode("append").parquet(srcDir)
    runOnce()
    val after1 = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 and 2 share the canonical key https://a.com/p/1 — one winner;
    // 3 (distinct host), 4, and the invalid 5 all pass
    assert(after1.intersect(Set(1L, 2L)).size == 1, s"twin not collapsed: $after1")
    assert(after1.contains(3L) && after1.contains(4L) && after1.contains(5L))
    // batch 2: 6 re-fetches the batch-1 resource (new dirty variant) —
    // stored key rejects; 7 is fresh; 8 is another invalid URL (unique
    // quarantine key — must NOT collide with doc 5's)
    Seq((6L, "https://a.com:443/p/1"), (7L, "https://c.net/p/3"),
      (8L, "also not a url"))
      .toDF("doc_id", "url").write.mode("append").parquet(srcDir)
    runOnce()
    val after2 = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!after2.contains(6L), s"stored key missed: $after2")
    assert(after2.contains(7L) && after2.contains(8L))
    // replay batch 2 through the batch API with the same stamp — the
    // manifest protocol plus key self-rejection keep output unchanged
    val rows2 = spark.read.parquet(outDir).count()
    StreamingDedup.admitBatchUrlDedup(
      Seq((6L, "https://a.com:443/p/1"), (7L, "https://c.net/p/3"),
        (8L, "also not a url")).toDF("doc_id", "url"),
      "doc_id", "url", tbl, outDir, batchId = Some(1L))
    assert(spark.read.parquet(outDir).count() == rows2, "replay duplicated output")
    // the stored index carries exactly the admitted keys
    assert(spark.table(tbl).count() == spark.read.parquet(outDir).count())
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("domain-cap: two UNSTAMPED batch rounds both count toward the lifetime quota") {
    // r15-advice regression: both batchId=None rounds stamp the -1
    // sentinel; the old dropDuplicates merge collapsed them to one
    // arbitrary row per domain, under-counting history and over-
    // admitting. Negative stamps now always SUM.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val outDir = Files.createTempDirectory("graft-dcu-out").toString + "/out"
    val tbl = "graft_bench_stream_dcunst"
    Warehouse.dropWithLocation(spark, tbl)
    def round(ids: Seq[Long]): Unit =
      StreamingDedup.admitBatchDomainCap(
        ids.map(i => (i, s"https://a.com/p/$i")).toDF("doc_id", "url"),
        "doc_id", "url", tbl, outDir, cap = 3L)
    round(Seq(1L, 2L)) // admits 2 of 3 lifetime slots
    round(Seq(3L, 4L)) // must see n_used=2 and admit exactly 1
    val admitted = spark.read.parquet(outDir).count()
    assert(admitted == 3L, s"unstamped rounds collapsed: admitted $admitted")
    assert(StreamingDedup.domainCountsOf(spark, tbl)
      .filter(col("reg_domain") === "a.com").head.getLong(1) == 3L)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("policy-gate admission: PII/quality rejects quarantined with reasons; replay exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val srcDir = Files.createTempDirectory("graft-pgx-src").toString
    val outDir = Files.createTempDirectory("graft-pgx-out").toString + "/out"
    val quarDir = Files.createTempDirectory("graft-pgx-quar").toString + "/quar"
    val ckpt = Files.createTempDirectory("graft-pgx-ckpt").toString
    val clean = doc("the and for plain") // stopword-heavy -> high quality
    val pii = clean + " mail jo@example.com tel 555-123-4567 ip 10.0.0.1"
    val junk = ";;;; !!!! ???? ####" * 20
    def runOnce(): Unit = {
      val q = StreamingDedup.policyGateAdmission(
        spark.readStream.schema(schema).parquet(srcDir),
        "doc_id", "text", outDir, quarDir, ckpt,
        maxPiiHits = 1L, minQuality = 0.3)
      q.processAllAvailable(); q.stop()
    }
    Seq((1L, clean), (2L, pii), (3L, junk)).toDF("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    runOnce()
    val admitted = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L), s"gate admitted: $admitted")
    val quar = spark.read.parquet(quarDir)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(quar(2L) == "pii", quar.toString) // 3 hits > 1
    assert(quar(3L).contains("quality"), quar.toString)
    // a doc with ONE pii hit passes the maxPiiHits=1 budget
    Seq((4L, clean + " mail only jo@example.com here"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    runOnce()
    assert(spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    // replay batch 1 through the batch API with the same stamp: the
    // manifest is gone (committed), the decision recomputes, and the
    // quarantine id-probe keeps BOTH outputs exactly-once
    val (o1, q1) = (spark.read.parquet(outDir).count(),
      spark.read.parquet(quarDir).count())
    StreamingDedup.admitBatchPolicyGate(
      Seq((1L, clean), (2L, pii), (3L, junk)).toDF("doc_id", "text"),
      "doc_id", "text", outDir, quarDir,
      maxPiiHits = 1L, minQuality = 0.3, batchId = Some(0L))
    assert(spark.read.parquet(outDir).count() == o1, "replay duplicated output")
    assert(spark.read.parquet(quarDir).count() == q1, "replay duplicated quarantine")
  }
}
