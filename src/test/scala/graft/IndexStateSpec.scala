package graft

import graft.ops.{DedupIndex, NearDupIndex}
import graft.sources.IndexState
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared serving-index lifecycle store: takedown sets written by
  * older versions as EXTERNAL catalog tables over `<root>/tombstones`
  * are still honored (the plain-parquet read sees the same files) and
  * their catalog entries retire with the next compact; a streamed batch
  * commits exactly once, and a crashed attempt leaves no seal, so its
  * retry runs.
  */
class IndexStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_indexstate_$tag").toString

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  /** A takedown the way older versions stored it: appended through an
    * EXTERNAL catalog table whose location is `<dir>/tombstones`.
    */
  private def legacyTombstones(rows: DataFrame, dir: String, table: String): Unit =
    rows.write.mode("append").format("parquet")
      .option("path", s"$dir/tombstones").saveAsTable(table)

  test("DedupIndex honors a catalog-table takedown set and retires the entry on compact") {
    val dir = tmpDir("dedup")
    val tbl = "graft_indexstate_dedup"
    DedupIndex.build(docs(1L -> "kept page", 2L -> "doomed page"), dir, tbl, nBuckets = 2)
    val doomed = spark.table(tbl).filter($"keep_id" === 2L).select("text_hash", "keep_id")
    legacyTombstones(doomed, dir, DedupIndex.tombstonesTable(tbl))
    assert(DedupIndex.stats(spark, tbl).tombstones == 1L)
    assert(DedupIndex.filterNew(spark, tbl, docs(10L -> "doomed page", 11L -> "kept page"))
      .select($"doc_id").as[Long].collect().toSet == Set(10L))
    DedupIndex.compact(spark, tbl, dir)
    assert(!spark.catalog.tableExists(DedupIndex.tombstonesTable(tbl)))
    assert(!fs.exists(new Path(dir, "tombstones")))
    assert(spark.table(tbl).select($"keep_id").as[Long].collect().toSet == Set(1L))
    // a new takedown lands as plain parquet, no catalog entry
    assert(DedupIndex.delete(spark, tbl, Seq(1L).toDF("doc_id")) == 1L)
    assert(!spark.catalog.tableExists(DedupIndex.tombstonesTable(tbl)))
    assert(DedupIndex.stats(spark, tbl).tombstones == 1L)
  }

  test("NearDupIndex honors a catalog-table takedown set and a rebuild drops the entry") {
    val dir = tmpDir("neardup")
    val pfx = "graft_indexstate_nd"
    val t1 = "the quick brown fox jumps over the lazy dog tonight"
    NearDupIndex.build(docs(1L -> t1), dir, pfx, nBuckets = 2)
    val probe = docs(100L -> t1)
    assert(NearDupIndex.probePairs(spark, pfx, probe).count() == 1L)
    legacyTombstones(Seq(1L).toDF("doc_id"), dir, NearDupIndex.tombstonesTable(pfx))
    assert(NearDupIndex.probePairs(spark, pfx, probe).isEmpty, "takedown must hide doc 1")
    NearDupIndex.build(docs(1L -> t1), dir, pfx, nBuckets = 2)
    assert(!spark.catalog.tableExists(NearDupIndex.tombstonesTable(pfx)))
    assert(NearDupIndex.probePairs(spark, pfx, probe).count() == 1L,
      "a rebuild is a fresh generation: the old takedown must not carry over")
  }

  test("commitStreamBatch: sealed batches are skipped, a crashed attempt is retried") {
    val dir = tmpDir("stream")
    val st = IndexState(dir, "test index", IndexState.longKey("id"))
    var runs = 0
    val err = intercept[IllegalStateException] {
      st.commitStreamBatch(spark, 7L) { staging =>
        runs += 1
        fs.mkdirs(staging)
        throw new IllegalStateException("crash mid-install")
      }
    }
    assert(err.getMessage == "crash mid-install")
    assert(st.commitStreamBatch(spark, 7L) { staging =>
      runs += 1
      assert(staging.toString.contains("_stream_staging"))
      fs.mkdirs(staging)
    }, "the crashed attempt left no seal, so the retry commits")
    assert(!st.commitStreamBatch(spark, 7L)(_ => runs += 1), "a sealed batch is skipped")
    assert(runs == 2)
    assert(fs.exists(new Path(dir, "_stream_commits/7")))
    assert(!fs.exists(graft.sources.WriterLock.lockPath(dir)),
      "the lock is released after every attempt")
    st.resetGeneration(spark)
    assert(!fs.exists(new Path(dir, "_stream_commits")))
    assert(!fs.exists(new Path(dir, "_stream_staging")))
  }
}
