package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Stream-side model serving: classify a streamed document corpus
 * against the at-rest Naive Bayes model
 * ([[graft.sources.Layout.NaiveBayes]]) — the train-offline /
 * serve-on-the-stream half of q241/q242. Each micro-batch runs the
 * batch scorer ([[TextAnalysis.naiveBayesScoreFrom]]) against the
 * stored tables, so a model update ([[graft.sources.Warehouse.append]]
 * between triggers) is picked up by the NEXT batch
 * with no query restart — the merge-on-read scorer sees whatever
 * partials are in the table when the batch fires.
 *
 * Exactly-once: each batch's scores land in a batch-id-keyed directory
 * written with Overwrite, so a foreachBatch replay after a crash
 * rewrites the same directory instead of duplicating rows (the
 * admission-protocol idempotency rule, simplified — scoring has no
 * index side-effect, so the manifest dance isn't needed).
 *
 * Scale posture: per-trigger cost is the batch-sized half of the q242
 * serving path — one postings join against the token-bucketed stored
 * counts (the stored side never shuffles) + one batch-keyed aggregate;
 * the label-stats collect is label-cardinality-bounded. Nothing about
 * the standing model is recomputed per trigger — |V| reads from the
 * one-row `_params` table the layout derives (r14: the former
 * per-trigger vocabulary distinct was a standing-table scan per serve).
 */
object StreamingClassify {

  def nbServe(docs: DataFrame, idCol: String, textCol: String,
              labelCol: String, modelTable: String, outPath: String,
              checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val spark = batch.sparkSession
        TextAnalysis.naiveBayesScoreStored(
            spark, modelTable, batch, idCol, textCol, labelCol)
          .write.mode("overwrite")
          .parquet(s"$outPath/batch_id=$bid")
        ()
      }
      .start()

  /**
   * The clustering twin of [[nbServe]]: route each micro-batch of
   * vectors against the stored centroid table
   * ([[graft.sources.Layout.Plain]] — fit once offline,
   * e.g. [[graft.operators.Similarity.kMediansCentroids]]). The
   * per-trigger cost is ONE shuffle-free unrolled projection over the
   * batch (centroids collect k rows); a centroid refresh between
   * triggers re-routes the NEXT batch with no restart. Same
   * batch-id-keyed Overwrite idempotency as [[nbServe]].
   */
  def centroidServe(vecs: DataFrame, idCol: String, vecCol: String,
                    centroidTable: String, outPath: String,
                    checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val spark = batch.sparkSession
        graft.operators.Similarity.classifyNearestCentroid(
            batch, spark.table(centroidTable), idCol, vecCol, idCol)
          .select(col(idCol), col("assigned"), col("cos"))
          .write.mode("overwrite")
          .parquet(s"$outPath/batch_id=$bid")
        ()
      }
      .start()
}
