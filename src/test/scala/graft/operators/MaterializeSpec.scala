package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Every materialized frame must be able to survive executor loss
  * (reliable checkpoint) when the session configured a checkpoint dir,
  * with results identical to the local-blocks path. */
class MaterializeSpec extends AnyFunSuite with SparkTestSession {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .limit(120)

  private def pairsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def clusters: DataFrame = Dedup.dedupClusters(
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4), "da", "db")

  /** Run `body` with a fresh checkpoint dir set, restoring the session's
    * no-checkpoint-dir posture for every later suite. */
  private def withCheckpointDir[T](body: java.nio.file.Path => T): T = {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "test session must start without a checkpoint dir")
    val dir = Files.createTempDirectory("graft-reliable-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir)
    finally spark.sparkContext.setCheckpointDir(null)
  }

  /** Executor loss, simulated: delete the blocks of every RDD persisted
    * after `before` (blocks from earlier suites stay untouched). */
  private def dropBlocksSince(before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Materialize: reliable-checkpoint path equals the local path, " +
    "and actually writes checkpoint files") {
    // local path (no checkpoint dir): the bench/local shape
    val viaLocal =
      pairsOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4))
    withCheckpointDir { ckptDir =>
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4)
      val viaReliable = pairsOf(pairs)
      assert(viaReliable == viaLocal,
        "reliable and local materialization must produce identical pairs")
      assert(viaReliable.nonEmpty, "degenerate fixture: no pairs found")
      // the reliable path really used the checkpoint filesystem
      val wrote = Files.walk(ckptDir)
        .filter(p => Files.isRegularFile(p))
        .count()
      assert(wrote > 0, s"no checkpoint files under $ckptDir")
      // the files live as long as the frame: keep it reachable past the
      // walk so the cleaner cannot delete them first
      java.lang.ref.Reference.reachabilityFence(pairs)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("Materialize: under a checkpoint dir, dedupClusters output " +
    "survives the loss of every materialized block") {
    val reference = pairsOf(clusters)
    assert(reference.nonEmpty, "degenerate fixture: no clusters found")
    withCheckpointDir { _ =>
      val before = persistedIds
      val out = clusters
      dropBlocksSince(before)
      assert(pairsOf(out) == reference,
        "a reliable-checkpointed frame must read back its rows after " +
          "its blocks are gone")
    }
  }

  test("Materialize: without a checkpoint dir the same block loss " +
    "fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val before = persistedIds
    val out = clusters
    dropBlocksSince(before)
    val e = intercept[Exception](out.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")),
      s"expected a lost-checkpoint-block failure, got: $e")
  }

  test("Materialize: the reliable path evaluates each row once") {
    val evals = spark.sparkContext.longAccumulator("materialize-evals")
    val counted = udf((x: Long) => { evals.add(1); x })
    withCheckpointDir { _ =>
      val m = Materialize(
        spark.range(1000).select(counted(col("id")).as("id")))
      assert(evals.value == 1000,
        s"eager reliable checkpoint evaluated ${evals.value} rows, not 1000")
      // consumers read the checkpoint files, not the lineage
      assert(m.count() == 1000)
      assert(evals.value == 1000)
    }
  }
}
