package graft.streaming

import graft.SparkTestSession
import graft.operators.Qan
import graft.sources.{Layout, Warehouse}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Drift-on-arrival: streamed batches KS-tested against the stored
  * reference counts; weighted KS equals the row-exploded KS; a planted
  * shift fires while a same-distribution batch stays near zero. */
class StreamingMonitorSpec extends AnyFunSuite with SparkTestSession {

  import spark.implicits._

  test("ksDriftWeighted equals row-level ksDrift on the exploded frame") {
    // ref {1,1,2,3}, cur {2,3,3,4} in one group, as rows and as counts
    val rows = Seq(("g", 1L, true), ("g", 1L, true), ("g", 2L, true),
        ("g", 3L, true), ("g", 2L, false), ("g", 3L, false),
        ("g", 3L, false), ("g", 4L, false))
      .toDF("grp", "u", "is_ref")
    val viaRows = Qan.ksDrift(rows, "grp", "u", "is_ref").collect().toSeq
    val weighted = rows.groupBy("grp", "u", "is_ref")
      .agg(count(lit(1)).as("c"))
    val viaWeights = Qan.ksDriftWeighted(weighted, "grp", "u", "c", "is_ref")
      .collect().toSeq
    assert(viaWeights == viaRows)
    assert(viaRows.head.getAs[Long]("d_num") > 0L)
  }

  test("streamed batches: same-distribution batch reads 0, planted shift fires; reference refresh re-arms") {
    val schema = StructType(Seq(
      StructField("grp", StringType), StructField("units", LongType)))
    val srcDir = Files.createTempDirectory("graft-ksm-src").toString
    val outDir = Files.createTempDirectory("graft-ksm-out").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ksm-ckpt").toString
    val tbl = "graft_bench_stream_ksref"
    Warehouse.dropWithLocation(spark, tbl)

    // reference: uniform over {0..4}, 20 rows
    val ref = (0 until 20).map(i => ("g", (i % 5).toLong)).toDF("grp", "units")
    Warehouse.save(Layout.Plain, tbl,
      StreamingMonitor.referenceCounts(ref, "grp", "units"))

    def runOnce(): Unit = {
      val q = StreamingMonitor.ksServe(
        spark.readStream.schema(schema).parquet(srcDir),
        "grp", "units", tbl, outDir, ckpt)
      q.processAllAvailable(); q.stop()
    }

    // batch 0: same distribution -> ks = 0 exactly
    (0 until 10).map(i => ("g", (i % 5).toLong)).toDF("grp", "units")
      .write.mode("append").parquet(srcDir)
    runOnce()
    val b0 = spark.read.parquet(outDir).collect()
    assert(b0.length == 1 && b0.head.getAs[Long]("d_num") == 0L, b0.toSeq)

    // batch 1: all mass at a new value -> maximal shift (ks = 1)
    (0 until 10).map(_ => ("g", 99L)).toDF("grp", "units")
      .write.mode("append").parquet(srcDir)
    runOnce()
    val b1 = spark.read.parquet(outDir)
      .filter(col("batch_id") === 1).collect()
    assert(b1.length == 1 && b1.head.getAs[Double]("ks") == 1.0, b1.toSeq)

    // reference refresh between triggers: 99 becomes normal
    val ref2 = (0 until 20).map(_ => ("g", 99L)).toDF("grp", "units")
    Warehouse.save(Layout.Plain, tbl,
      StreamingMonitor.referenceCounts(ref2, "grp", "units"))
    (0 until 10).map(_ => ("g", 99L)).toDF("grp", "units")
      .write.mode("append").parquet(srcDir)
    runOnce()
    val b2 = spark.read.parquet(outDir)
      .filter(col("batch_id") === 2).collect()
    assert(b2.length == 1 && b2.head.getAs[Long]("d_num") == 0L, b2.toSeq)

    Warehouse.dropWithLocation(spark, tbl)
  }
}
