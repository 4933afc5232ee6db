package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous document ingestion into a persisted
  * [[graft.ops.Bm25Index]] — the lexical member of the streaming
  * serving-twin family ([[StreamingDedupIndex]], [[StreamingNearDupIndex]],
  * [[StreamingAnnIngest]]): each micro-batch's postings, df deltas and
  * corpus-stat delta land in the index, so lexical search sees new
  * documents within a trigger interval. Because every stored quantity
  * is additive, the streamed index stays EXACT — after any number of
  * micro-batches it answers bit-identically to a from-scratch build
  * over everything ingested (no drift, unlike the ANN twin's
  * frozen-center assignment).
  *
  * Retry discipline ([[StreamingAnnIngest]]'s staged-rename protocol):
  * a redelivered batch must not double-count ANY of the three tables —
  * duplicated postings double tf, duplicated deltas skew idf/avgdl for
  * every future probe. Each batch is (1) staged under a per-attempt
  * temp dir with one data file per touched term bucket (postings and
  * dfd repartitioned by `tb`; the stats delta is one row), (2)
  * installed by renaming each file to the DETERMINISTIC per-(batch,
  * bucket) name `b<batchId>.parquet` — replacing, never duplicating,
  * what a partial earlier attempt left — and (3) sealed with a per-batch
  * commit marker ([[graft.sources.IndexState.commitStreamBatch]]); a
  * redelivered batchId with a marker present is skipped. Install order
  * is stats → dfd → postings, so a crash window never serves a
  * document whose corpus weights are missing: postings land last, and
  * stats/df present without postings only shifts idf/avgdl marginally
  * until the redelivery converges.
  *
  * Doc ids must be new to the index ([[graft.ops.Bm25Index.append]]'s
  * contract). [[graft.ops.Bm25Index.compact]] refuses to run over an
  * uncommitted streamed batch — the crashed-attempt window is loud,
  * not silently merged.
  */
object StreamingBm25Ingest {

  /** Writer appending every micro-batch of `docs` into the index at
    * `indexDir`. Caller sets checkpoint/trigger and starts it.
    */
  def intoIndex(
      docs: DataFrame,
      indexDir: String,
      textCol: String = "text",
      idCol: String = "doc_id"): DataStreamWriter[Row] = {
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      appendBatch(indexDir, batch, batchId, textCol, idCol)
      ()
    }
  }

  /** The guarded per-batch append the sink runs; returns true when the
    * batch was appended, false when its marker showed it already was.
    * The commit protocol (marker check, writer lock, staging, seal) is
    * [[graft.sources.IndexState.commitStreamBatch]]; this stages the
    * batch's tables and installs them.
    */
  private[graft] def appendBatch(
      indexDir: String,
      batch: DataFrame,
      batchId: Long,
      textCol: String = "text",
      idCol: String = "doc_id"): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val state = graft.ops.Bm25Index.state(indexDir)
    state.commitStreamBatch(spark, batchId) { staging =>
      val nTb = graft.ops.Bm25Index.readNTb(spark, indexDir)
      graft.ops.Bm25Index.requireStatsHasTerms(spark, indexDir)
      // Metadata columns follow the index's schema (the batch must
      // carry them — loud otherwise), and one evaluation feeds all
      // three staged writes.
      val meta = graft.ops.Bm25Index.indexMetaCols(spark, indexDir)
      graft.ops.Bm25Index.requireMeta(batch, meta, indexDir)
      val posts = graft.ops.Bm25Index.postingsOf(batch, textCol, idCol, meta)
        .withColumn("tb", graft.ops.Bm25Index.tbOf(col("term"), nTb))
        .localCheckpoint()
      // repartition by tb = exactly one staged file per touched bucket,
      // the unit the install step renames atomically. maxRecordsPerFile
      // pinned off: a session cap would split a hot bucket's file and
      // break the invariant.
      posts.repartition(col("tb")).sortWithinPartitions("tb", "term")
        .write.mode("overwrite").option("maxRecordsPerFile", "0").partitionBy("tb")
        .parquet(new Path(staging, "postings").toString)
      // Block-Max sidecar delta (skipped on pre-sidecar indexes — a
      // PARTIAL sidecar would under-bound the uncovered postings); the
      // dfd delta re-aggregates the sidecar rollup, so both cost one
      // corpus-sized aggregation.
      val nDblk = graft.ops.Bm25Index.readNDblk(spark, indexDir)
      val (dfdDelta, bmDelta) = graft.ops.Bm25Index.dfDeltaFrames(posts, nTb, nDblk)
      dfdDelta
        .repartition(col("tb"))
        .write.mode("overwrite").option("maxRecordsPerFile", "0").partitionBy("tb")
        .parquet(new Path(staging, "dfd").toString)
      bmDelta.foreach(
        _.repartition(col("tb"))
          .write.mode("overwrite").option("maxRecordsPerFile", "0").partitionBy("tb")
          .parquet(new Path(staging, "blockmax").toString))
      // coalesce: an EMPTY micro-batch must stage a (0, 0, 0) delta,
      // not NPE on the null sum. n_terms is the batch's vocabulary
      // NOVELTY against the INSTALLED dfd (computed before any
      // install, so a crash+redelivery recomputes the same number
      // against the same dfd and the deterministic-name replace keeps
      // the sum exact).
      val statRow = posts.select($"doc_id", $"dl").distinct()
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.coalesce(
            org.apache.spark.sql.functions.sum($"dl"),
            org.apache.spark.sql.functions.lit(0L)).as("sum_dl"))
        .as[(Long, Long)].head()
      val newTerms = graft.ops.Bm25Index.newTermCount(
        spark, indexDir, posts.select("term").distinct(), nTb,
        excludeBatch = Some(batchId))
      Seq((statRow._1, statRow._2, newTerms)).toDF("n_docs", "sum_dl", "n_terms")
        .repartition(1)
        .write.mode("overwrite").option("maxRecordsPerFile", "0")
        .parquet(new Path(staging, "stats").toString)
      // Install, stats -> dfd -> blockmax -> postings (docs become
      // retrievable only once fully weighted AND fully bounded — a
      // crash window must never serve postings whose block bounds are
      // missing, since an absent sidecar row reads as "term absent
      // from block" and would let the probe skip real docs), each file
      // under its deterministic name.
      state.installFile(spark, new Path(staging, "stats"),
        new Path(graft.ops.Bm25Index.statsPath(indexDir)), batchId)
      state.installPartitions(spark, new Path(staging, "dfd"),
        new Path(graft.ops.Bm25Index.dfdPath(indexDir)), "tb=", batchId)
      if (nDblk.isDefined)
        state.installPartitions(spark, new Path(staging, "blockmax"),
          new Path(graft.ops.Bm25Index.blockmaxPath(indexDir)), "tb=", batchId)
      state.installPartitions(spark, new Path(staging, "postings"),
        new Path(graft.ops.Bm25Index.postingsPath(indexDir)), "tb=", batchId)
      graft.ops.Bm25Index.writeGenerationMarker(
        new Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration),
        graft.ops.Bm25Index.generationMarkerPath(indexDir))
      graft.ops.Bm25Index.invalidateProbeCache(indexDir)
    }
  }
}
