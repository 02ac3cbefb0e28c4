package graft.streaming

import graft.SparkTestSession
import graft.operators.TextAnalysis
import graft.sources.{Layout, Warehouse}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Stream-side NB model serving: micro-batches score against the
  * stored model, batch-keyed output is replay-idempotent, and a model
  * APPEND between triggers changes the next batch's scores without a
  * query restart. */
class StreamingClassifySpec extends AnyFunSuite with SparkTestSession {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType)))

  test("streamed batches score from the stored model; mid-stream append retrains the serving path") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-nbs-src").toString
    val outDir = Files.createTempDirectory("graft-nbs-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-nbs-ckpt").toString
    val tbl = "graft_bench_stream_nb"
    Warehouse.dropWithLocation(spark, tbl)
    Warehouse.dropWithLocation(spark, s"${tbl}_labels")

    // model v1: 'x' belongs to lang a, 'z' to lang b
    val train1 = Seq((0L, "x x x y", "a"), (2L, "z z z y", "b"))
      .toDF("doc_id", "text", "lang")
    val (c1, l1) = TextAnalysis.naiveBayesFit(train1, "doc_id", "text", "lang")
    Warehouse.save(Layout.NaiveBayes, tbl, c1, l1)

    def runOnce(): Unit = {
      val q = StreamingClassify.nbServe(
        spark.readStream.schema(schema).parquet(srcDir),
        "doc_id", "text", "lang", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }

    // batch 1 under model v1: 'q q' is OOV-only (drops), 'x' -> a
    Seq((10L, "x x", "a"), (11L, "q q", "b"))
      .toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(srcDir)
    runOnce()
    val after1 = spark.read.parquet(outDir)
      .select("doc_id", "pred").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after1 == Set((10L, "a")), after1)

    // model v2 lands BETWEEN triggers: lang c owns token 'q'
    val train2 = Seq((4L, "q q q", "c")).toDF("doc_id", "text", "lang")
    val (c2, l2) = TextAnalysis.naiveBayesFit(train2, "doc_id", "text", "lang")
    Warehouse.append(Layout.NaiveBayes, tbl, c2, l2)

    // batch 2: the SAME 'q q' text now classifies as c — no restart
    Seq((12L, "q q", "c"), (13L, "x x", "a"))
      .toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(srcDir)
    runOnce()
    val after2 = spark.read.parquet(outDir)
      .select("doc_id", "pred").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after2 == Set((10L, "a"), (12L, "c"), (13L, "a")), after2)

    // replay idempotency: re-running batch 2's scorer into the same
    // batch directory rewrites rather than duplicates
    TextAnalysis.naiveBayesScoreFrom(
        spark.table(tbl), spark.table(s"${tbl}_labels"),
        Seq((12L, "q q", "c"), (13L, "x x", "a")).toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$outDir/batch_id=1")
    val replayed = spark.read.parquet(outDir).count()
    assert(replayed == 3L, s"replay duplicated rows: $replayed")

    Warehouse.dropWithLocation(spark, tbl)
    Warehouse.dropWithLocation(spark, s"${tbl}_labels")
  }

  test("centroidServe routes streamed vectors against the stored centroids; a refresh re-routes the next batch") {
    import spark.implicits._
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    val srcDir = Files.createTempDirectory("graft-cs-src").toString
    val outDir = Files.createTempDirectory("graft-cs-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-cs-ckpt").toString
    val tbl = "graft_bench_stream_cent"
    Warehouse.dropWithLocation(spark, tbl)
    // v1: two centroids on the axes
    Warehouse.save(Layout.Plain, tbl,
      Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("label", "centroid"))

    def runOnce(): Unit = {
      val q = StreamingClassify.centroidServe(
        spark.readStream.schema(vecSchema).parquet(srcDir),
        "vec_id", "embedding", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }

    Seq((10L, Seq(0.9f, 0.1f)), (11L, Seq(0.1f, 0.9f)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(srcDir)
    runOnce()
    val after1 = spark.read.parquet(outDir)
      .select("vec_id", "assigned").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after1 == Set((10L, 0), (11L, 1)), after1)

    // centroid refresh between triggers: cluster 2 owns the diagonal
    Warehouse.save(Layout.Plain, tbl,
      Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)), (2, Seq(1f, 1f)))
        .toDF("label", "centroid"))
    Seq((12L, Seq(0.7f, 0.7f)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(srcDir)
    runOnce()
    val after2 = spark.read.parquet(outDir)
      .select("vec_id", "assigned").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after2 == Set((10L, 0), (11L, 1), (12L, 2)), after2)

    Warehouse.dropWithLocation(spark, tbl)
  }
}
