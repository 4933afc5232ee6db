package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous ingestion through a persisted
  * [[graft.ops.NearDupIndex]]: each micro-batch keeps only rows with
  * no ~J>=threshold near-duplicate in any previous crawl OR earlier in
  * the batch, survivors land under `survivorsDir/batch=<id>/`, and
  * their postings + shingles append to the index.
  *
  * Same two-marker, survivors-first commit as
  * [[StreamingDedupIndex]], with one LSH-specific wrinkle: the index
  * append is TWO table writes (postings, then shingles). A crash
  * between them leaves postings whose candidates can never verify
  * (the shingle join drops them), so the redelivered batch does NOT
  * self-match, recomputes the same survivors (markers skip the
  * survivor write), and re-appends — leaving duplicate postings rows,
  * which candidate `distinct()` makes answer-neutral and the next
  * [[graft.ops.NearDupIndex.compact]] retires. Every crash point
  * therefore converges to the same survivor set and probe answers.
  */
object StreamingNearDupIndex {

  /** Writer pushing every micro-batch of `docs` through the index
    * tables at `tablePrefix`, survivors under `survivorsDir`. Caller
    * sets checkpoint/trigger and starts it.
    */
  def intoIndex(
      docs: DataFrame,
      tablePrefix: String,
      survivorsDir: String,
      threshold: Double = 0.9,
      textCol: String = "text",
      idCol: String = "doc_id"): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatch(batch.sparkSession, tablePrefix, survivorsDir, batch, batchId,
        threshold, textCol, idCol)
      ()
    }

  private[graft] def ingestBatch(
      spark: SparkSession,
      tablePrefix: String,
      survivorsDir: String,
      batch: DataFrame,
      batchId: Long,
      threshold: Double = 0.9,
      textCol: String = "text",
      idCol: String = "doc_id"): Boolean = {
    import org.apache.spark.sql.functions._
    val root = new Path(survivorsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val survivorsDone = new Path(root, s"_survivors_done/$batchId")
    val indexDone = new Path(root, s"_index_done/$batchId")
    if (fs.exists(indexDone)) return false

    // The whole probe+append sequence runs under the index's writer
    // lock (reentrant — the append below takes it again): a compact
    // between our probe and our append would drop the appended
    // postings from its new generation.
    graft.sources.IndexState.mutate(spark, null,
        graft.ops.NearDupIndex.bucketsTable(tablePrefix))(
        graft.ops.NearDupIndex.stateAt(tablePrefix)) { _ =>
      // Survivors = novel vs the index AND keep-min within the batch —
      // the NearDupIndex.ingest selection, evaluated once BEFORE any
      // append mutates what the probe reads.
      val novel = graft.ops.NearDupIndex
        .filterNovel(spark, tablePrefix, batch, threshold, textCol, idCol)
      val losers = graft.ops.Dedup
        .nearDuplicatePairCounts(novel, threshold, textCol, idCol)
        .filter(col("n_inter") >= col("n_union") * threshold)
        .select(greatest(col("doc_a"), col("doc_b")).as(idCol)).distinct()
      val kept = novel.join(losers, Seq(idCol), "left_anti").localCheckpoint()

      if (!fs.exists(survivorsDone)) {
        kept.write.mode("overwrite").parquet(s"$survivorsDir/batch=$batchId")
        graft.sources.IndexState.seal(fs, survivorsDone)
      }
      graft.ops.NearDupIndex.append(spark, tablePrefix, kept, textCol, idCol)
      graft.sources.IndexState.seal(fs, indexDone)
    }
    true
  }
}
