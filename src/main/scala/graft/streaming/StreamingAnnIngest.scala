package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous vector ingestion into a persisted [[graft.ops.AnnIndex]]:
  * each micro-batch assigns against the frozen centers and appends to
  * the cell directories, so queries against the index see new vectors
  * within a trigger interval — the standard "nightly rebuild, live
  * append" serving loop. When the index carries a PQ sidecar
  * (`buildPq` has run), the batch is ALSO encoded with the frozen
  * codebooks and installed into `pqcodes/` inside the same guarded
  * commit — streamed vectors are immediately visible to `topKPq`, not
  * only `topK` (two probe APIs over one index must not have different
  * visibility).
  *
  * Retry discipline: `foreachBatch` re-runs a batch after a failure,
  * and a blind parquet append would duplicate its rows. Each batch is
  * therefore (1) STAGED under a per-attempt temp directory with the
  * batch repartitioned by cell — so each touched cell stages exactly
  * ONE data file; (2) installed by renaming that single file to the
  * DETERMINISTIC per-(batch, cell) name `b<batchId>.parquet`
  * (replacing any same-named leftover of a partial earlier attempt);
  * and (3) sealed with a per-batch commit marker; a re-delivered
  * batchId with a marker present is skipped. One file
  * per (batch, cell) makes the install ATOMIC PER CELL: a crash at
  * any point leaves a retry that replaces rather than duplicates, and
  * even a zombie driver racing a live one (both past the marker
  * check) cannot leave a cell holding a MIXTURE of two attempts'
  * files — there is only one installable name, and both attempts
  * install identical rows under it (frozen centers + codebooks make
  * the staged content deterministic). The marker is created with
  * create-if-absent, so losing that race is also a no-op.
  */
object StreamingAnnIngest {

  /** Writer appending every micro-batch of `vectors` into the index at
    * `indexDir`. Caller sets checkpoint/trigger and starts it.
    */
  def intoIndex(
      vectors: DataFrame,
      indexDir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataStreamWriter[Row] = {
    vectors.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      appendBatch(indexDir, batch, batchId, idCol, vecCol)
      ()
    }
  }

  /** The guarded per-batch append the sink runs; returns true when the
    * batch was appended, false when its seal showed it already was.
    * The commit protocol (seal check, writer lock — which also
    * serializes the install against a concurrent compact — staging,
    * seal) is [[graft.sources.IndexState.commitStreamBatch]]; this
    * stages the batch and installs it.
    */
  private[graft] def appendBatch(
      indexDir: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean = {
    val spark = batch.sparkSession
    val state = graft.ops.AnnIndex.state(indexDir)
    state.commitStreamBatch(spark, batchId) { staging =>
      import spark.implicits._
      val books = graft.ops.AnnIndex.readCodebooks(spark, indexDir)
      val assigned0 = graft.ops.AnnIndex.assignCells(spark, indexDir, batch, idCol, vecCol)
      // With a PQ sidecar the batch feeds TWO staged writes — pin one
      // evaluation so vectors/ and pqcodes/ see identical rows.
      val assigned = if (books.isDefined) assigned0.localCheckpoint() else assigned0
      // (1) stage. The repartition by cell puts each cell's rows in
      // exactly one task, so every cell directory stages exactly one
      // data file — the unit the install step renames atomically.
      // maxRecordsPerFile is pinned OFF for the staged writes: a
      // session-level cap would split a hot cell's staged output into
      // several files and break the one-file-per-cell invariant.
      assigned.repartition(col("cell"))
        .write.mode("overwrite").option("maxRecordsPerFile", "0").partitionBy("cell")
        .parquet(new Path(staging, "vectors").toString)
      books.foreach { bk =>
        // Frozen-codebook encode — the streaming twin of the batch
        // [[graft.ops.AnnIndex.append]] path: streamed vectors enter
        // the sidecar NOW, with quantization drift (like center drift)
        // accruing until the next buildPq.
        assigned
          .select((Seq($"vec_id", $"cell") ++
            graft.ops.AnnIndex.indexMetaCols(spark, indexDir).map(col) ++ Seq(
              graft.functions.ColumnBridge.toColumn(graft.functions.PqEncode(
                graft.functions.ColumnBridge.toExpression($"v"),
                graft.functions.RefTable.auto(spark, bk,
                  graft.functions.RefTable.bytes3(bk, 8)))).as("pq_codes"))): _*)
          .repartition(col("cell"))
          .write.mode("overwrite").option("maxRecordsPerFile", "0").partitionBy("cell")
          .parquet(new Path(staging, "pqcodes").toString)
      }
      // (2) install each staged cell file under its deterministic name.
      // A crash between the two installs leaves no seal, so the stream
      // replays the batch and the redelivery re-installs BOTH trees.
      state.installPartitions(spark, new Path(staging, "vectors"),
        new Path(graft.ops.AnnIndex.vectorsPath(indexDir)), "cell=", batchId)
      if (books.isDefined)
        state.installPartitions(spark, new Path(staging, "pqcodes"),
          new Path(graft.ops.AnnIndex.pqcodesPath(indexDir)), "cell=", batchId)
    }
  }
}
