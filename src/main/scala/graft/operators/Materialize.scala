package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * The one place a frame is materialized. Operators state only THAT a
 * frame is multi-consumed (or that its lineage must be cut); the rule
 * for HOW lives here, so a deployment sets it once for every site.
 *
 * `Materialize(df)` cuts the lineage and materializes the frame
 * EAGERLY — merely constructing a frame that calls it runs the Spark
 * job, so plan-only tooling (`graft.Explain` without `-exec`) executes
 * those subtrees too. This is deliberate: a lazy plan would re-run the
 * lineage once per consumer.
 *
 *  - With a checkpoint dir (`SparkContext.setCheckpointDir`, or
 *    `spark.checkpoint.dir` at submit) it uses RELIABLE `checkpoint()`:
 *    the rows live on the checkpoint filesystem and survive executor
 *    loss. `localCheckpoint` truncates the lineage that recovery would
 *    need, so a lost executor otherwise kills the job. The files are
 *    freed when the frame is garbage-collected
 *    (`spark.cleaner.referenceTracking.cleanCheckpoints`, set by
 *    [[graft.GraftSession]]) — the lifetime local blocks already have.
 *  - Without one (local runs, the bench, the specs) it uses
 *    `localCheckpoint()`: executor-local MEMORY_AND_DISK blocks.
 *
 * Both paths compute the lineage ONCE: the eager reliable checkpoint
 * writes the files in the same job that computes the rows
 * (MaterializeSpec pins one evaluation per row). Results are identical;
 * only the storage contract differs.
 */
object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()
}
