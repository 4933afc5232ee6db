package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous ingestion through a persisted [[graft.ops.DedupIndex]]:
  * each micro-batch is filtered against all previously-seen content,
  * its survivors land under `survivorsDir/batch=<id>/`, and their
  * hashes append to the index — the streaming form of the "is this
  * page new across all crawls?" loop.
  *
  * Retry discipline. A redelivered batch recomputes `filterNew`
  * against an index its FIRST delivery may already have appended to,
  * so the recomputed survivor set can be EMPTY — a blind overwrite
  * would destroy the survivors the first attempt wrote. Two markers
  * sequence the commit so every crash point converges:
  *
  *   1. survivors written to the deterministic `batch=<id>` dir
  *      (overwrite: replaces any partial earlier attempt), then
  *      `_survivors_done/<id>`;
  *   2. hashes appended to the index table, then `_hashes_done/<id>`.
  *
  * Redelivery skips a step whose marker exists. Crash before (1):
  * clean recompute, index unchanged, same survivors. Crash between
  * (1) and (2): survivor write is skipped on retry (marker), hashes
  * append then. Crash inside (2): the append is a Spark job whose
  * output commits atomically (uncommitted task files stay invisible),
  * so retry re-appends the recomputed `filterNew` — which is empty iff
  * the append had committed, a no-op either way. A zombie driver
  * racing a live one can at worst append the same hash rows twice;
  * duplicate index rows never change `filterNew`'s anti-join answer
  * and vanish at the next [[graft.ops.DedupIndex.build]].
  */
object StreamingDedupIndex {

  /** Writer pushing every micro-batch of `docs` through the index at
    * `table`, survivors under `survivorsDir`. Caller sets
    * checkpoint/trigger and starts it.
    */
  def intoIndex(
      docs: DataFrame,
      table: String,
      survivorsDir: String,
      textCol: String = "text",
      idCol: String = "doc_id"): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatch(batch.sparkSession, table, survivorsDir, batch, batchId, textCol, idCol)
      ()
    }

  /** The guarded per-batch ingest the sink runs; returns true when any
    * step executed, false when the batch was already fully committed.
    */
  private[graft] def ingestBatch(
      spark: SparkSession,
      table: String,
      survivorsDir: String,
      batch: DataFrame,
      batchId: Long,
      textCol: String = "text",
      idCol: String = "doc_id"): Boolean = {
    val root = new Path(survivorsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val survivorsDone = new Path(root, s"_survivors_done/$batchId")
    val hashesDone = new Path(root, s"_hashes_done/$batchId")
    if (fs.exists(hashesDone)) return false

    // The whole filter+append sequence runs under the index's writer
    // lock: a compact snapshotting the table between our filterNew and
    // our append would otherwise drop the appended hashes from its new
    // generation — silently un-seeing this batch forever.
    graft.sources.IndexState.mutate(spark, null, table)(graft.ops.DedupIndex.stateAt(table)) { _ =>
      // Evaluated once, BEFORE any append mutates what filterNew reads.
      val fresh = graft.ops.DedupIndex
        .filterNew(spark, table, batch, textCol, idCol)
        .localCheckpoint()
      if (!fs.exists(survivorsDone)) {
        fresh.drop("text_hash", "n_dups")
          .write.mode("overwrite").parquet(s"$survivorsDir/batch=$batchId")
        graft.sources.IndexState.seal(fs, survivorsDone)
      }
      fresh
        .select(
          org.apache.spark.sql.functions.col("text_hash"),
          org.apache.spark.sql.functions.col("n_dups"),
          org.apache.spark.sql.functions.col(idCol).cast("long").as("keep_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
        .insertInto(table)
      graft.sources.IndexState.seal(fs, hashesDone)
    }
    true
  }
}
