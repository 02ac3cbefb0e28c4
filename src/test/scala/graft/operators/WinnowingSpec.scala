package graft.operators

import graft.SparkTestSession
import graft.sources.{Layout, Warehouse}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The winnowing selection contract ([[Dedup.winnowingFingerprints]]):
  * full-windows-only selection, rightmost-min tie break via the packed
  * key, the shared-run sampling guarantee, and the ~2/(w+1) density
  * band on real text. */
class WinnowingSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("selection matches a hand winnowing over the unpacked hashes") {
    // one 8-word doc, k=2, w=3 → 7 grams, 5 full windows; replay the
    // rule in plain Scala from the SAME hashes the operator computes
    val text = "a b c d a b c e"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val words = text.split(" ")
    val grams = words.sliding(2).map(_.mkString(" ")).toVector
    def h40(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(10), 16)
    }
    val packs = grams.zipWithIndex.map { case (g, p) =>
      h40(g) * 1048576L + (1048575L - p)
    }
    val expected = (2 until packs.length)
      .map(i => packs.slice(i - 2, i + 1).min).toSet
    val got = Dedup.winnowingFingerprints(docs, "doc_id", "text", k = 2, w = 3)
      .collect().map(_.getAs[Long]("fp")).toSet
    assert(got == expected)
    // the repeated run "a b c" must select the same (hash) twice at
    // different positions only if both windows picked it — and every
    // selected pos must be a real gram position
    val rows = Dedup.winnowingFingerprints(docs, "doc_id", "text", 2, 3)
      .collect().map(r => (r.getAs[Long]("fp_hash"), r.getAs[Long]("fp_pos")))
    assert(rows.forall { case (h, p) =>
      p >= 0 && p < grams.length && h == h40(grams(p.toInt)) })
  }

  test("shared-run guarantee: two docs sharing a run of >= w+k-1 words select a common fingerprint hash") {
    val shared = "x1 x2 x3 x4 x5 x6 x7 x8" // 8 words >= w+k-1 = 6 at k=3,w=4
    val docs = Seq(
      (1L, s"p q r $shared s t"),
      (2L, s"m n $shared u v w")).toDF("doc_id", "text")
    val sel = Dedup.winnowingFingerprints(docs, "doc_id", "text", 3, 4)
      .select("doc_id", "fp_hash").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((sel(1L) intersect sel(2L)).nonEmpty,
      "winnowing guarantee violated: no common fingerprint on a shared run")
  }

  test("winnowing index at rest: save + blind append reproduces the direct selection; cross-corpus probe matches a planted near-dup") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sel = Dedup.winnowingFingerprints(docs, "doc_id", "text", 3, 4)
      .select(col("doc_id"), col("fp_hash")).distinct().localCheckpoint()
    val tbl = "graft_bench_winnow_spec"
    graft.sources.Warehouse.dropWithLocation(spark, tbl)
    Warehouse.save(Layout.Winnow, tbl, sel.filter(col("doc_id") % 2 === 0))
    Warehouse.append(Layout.Winnow, tbl, sel.filter(col("doc_id") % 2 === 1))
    val stored = spark.table(tbl)
      .select("doc_id", "fp_hash").orderBy("doc_id", "fp_hash")
      .collect().toSeq
    val direct = sel.select("doc_id", "fp_hash").orderBy("doc_id", "fp_hash")
      .collect().toSeq
    assert(stored == direct)
    // probe: a near-copy of doc 0 (shares its full text = shares every
    // full-window selection) must match it with n_shared >= 3
    val probeDoc = docs.filter(col("doc_id") === 0)
      .select(lit(900000L).as("doc_id"), col("text"))
    val probeSel = Dedup.winnowingFingerprints(probeDoc, "doc_id", "text",
        3, 4)
      .select(col("doc_id"), col("fp_hash")).distinct()
    val hits = Dedup.winnowMatchesAgainst(probeSel, spark.table(tbl),
        "doc_id", minShared = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((900000L, 0L)), s"probe missed its source: $hits")
    graft.sources.Warehouse.dropWithLocation(spark, tbl)
  }

  test("density on the corpus sits in the 2/(w+1) band; short docs drop") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sel = Dedup.winnowingFingerprints(docs, "doc_id", "text", 3, 4)
    val stats = sel.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .join(docs.select(col("doc_id"),
        (size(split(col("text"), " ")) - 2).as("grams")), "doc_id")
      .agg(sum("n").as("sel"), sum("grams").as("g")).head()
    val density = stats.getLong(0).toDouble / stats.getLong(1)
    // theory: expected 2/(w+1) = 0.4 for random hashes; wide band for
    // the small repetitive-vocabulary corpus
    assert(density > 0.2 && density < 0.6, s"density $density")
    // a doc below k+w-1 words yields no rows
    val tiny = Seq((9L, "a b c d")).toDF("doc_id", "text")
    assert(Dedup.winnowingFingerprints(tiny, "doc_id", "text", 3, 4).isEmpty)
  }

  test("segment winnowing locates a copied paragraph inside otherwise-novel docs") {
    // two 80-word docs sharing ONLY a 48-word planted paragraph, at
    // different offsets (16 vs 32) so the 16-word stride chops it
    // differently on each side — the alignment the fixed-stride caveat
    // is about; 48 >= 2*(k+w-1) guarantees some >= k+w-1 piece lands
    // inside one segment on both sides
    val para = (0 until 48).map(i => s"copy$i").mkString(" ")
    val docA = ((0 until 16).map(i => s"a$i") :+ para).mkString(" ") +
      " " + (0 until 16).map(i => s"z$i").mkString(" ")
    val docB = ((0 until 32).map(i => s"b$i") :+ para).mkString(" ")
    val docs = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val sel = Dedup.winnowingSegmentFingerprints(docs, "doc_id", "text",
      segWords = 16, k = 3, w = 4)
    // unpacked halves stay consistent at segment grain
    assert(sel.filter(col("fp") =!=
      col("fp_hash") * 1048576L + (lit(1048575L) - col("fp_pos")))
      .count() == 0)
    // the match: >= 1 cross-doc segment pair shares hashes, and every
    // matched segment overlaps the planted paragraph's word range
    // (doc A words 16..63 -> segs 1..3; doc B words 32..79 -> segs 2..4)
    val pairs = sel.select(col("doc_id").as("da"), col("seg_id").as("sa"),
        col("fp_hash"))
      .join(sel.select(col("doc_id").as("db"), col("seg_id").as("sb"),
        col("fp_hash")), "fp_hash")
      .filter(col("da") < col("db"))
      .select("sa", "sb").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "copied paragraph not caught")
    assert(pairs.forall { case (sa, sb) =>
      sa >= 1 && sa <= 3 && sb >= 2 && sb <= 4
    }, s"match outside the planted range: ${pairs.mkString(",")}")
    // segments are winnowed independently: no selection crosses a
    // segment boundary (every fp_pos fits inside one segment's grams)
    assert(sel.filter(col("fp_pos") > 16 - 3).count() == 0)
  }

  test("a doc past the 2^20-gram position bound fails loudly, not silently") {
    // 2^20 + 8 one-char words → positions past 1048575 would corrupt
    // the packed (hash, pos) key; the plan-side guard raises instead
    val words = new StringBuilder
    (0 until (1 << 20) + 8).foreach { i =>
      words.append("w").append(i % 7).append(' ')
    }
    val huge = Seq((1L, words.result().trim)).toDF("doc_id", "text")
    val e = intercept[Exception](
      Dedup.winnowingFingerprints(huge, "doc_id", "text", 1, 4).count())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("2^20-gram position bound")),
      s"unexpected failure: $e")
  }
}
