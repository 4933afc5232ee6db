package graft

import graft.ops.{AnnIndex, Bm25Index, DedupIndex, NearDupIndex}
import org.apache.spark.graftspec.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Probe-path job budget with LIVE tombstones, one case per serving
  * index. A takedown-sized set is read driver-side, so hiding it costs
  * a probe no read, distinct or broadcast-guard count job. The pins are
  * the counts measured before the shared tombstone store existed; a
  * count above its pin means a probe fell back to a Spark read of the
  * takedown set (that fallback runs 5 more jobs per probe here).
  */
class TombstoneProbeJobsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_tombjobs_$tag").toString

  private def docs(ids: Range): DataFrame = {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    ids.map { i =>
      (i.toLong, (0 until 8).map(j => words((i * 3 + j * j) % words.length)).mkString(" ") +
        s" doc$i")
    }.toDF("doc_id", "text")
  }

  private def vecs(ids: Range, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
  }

  /** Spark jobs launched while `body` runs (all events delivered). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("AnnIndex.topK with live tombstones stays within its pinned job count") {
    val dir = tmpDir("ann")
    AnnIndex.build(vecs(0 until 200, seed = 1), dir, nClusters = 4, iters = 2)
    assert(AnnIndex.delete(spark, dir, spark.range(0, 200, 7).select($"id".as("vec_id"))) > 0)
    val q = vecs(9000 until 9004, seed = 2)
    val n = jobsOf(AnnIndex.topK(spark, dir, q, k = 3, nProbe = 2).collect())
    assert(n <= AnnPin, s"AnnIndex.topK ran $n jobs with live tombstones (pin $AnnPin)")
  }

  test("Bm25Index.topDocs with live tombstones stays within its pinned job count") {
    val dir = tmpDir("bm25")
    Bm25Index.build(docs(0 until 120), dir, nTb = 4)
    assert(Bm25Index.delete(spark, dir, spark.range(0, 120, 5).select($"id".as("doc_id"))) > 0)
    val q = Seq((900L, "alpha delta"), (901L, "zeta beta theta")).toDF("query_id", "text")
    val n = jobsOf(Bm25Index.topDocs(spark, dir, q, k = 5).collect())
    assert(n <= Bm25Pin, s"Bm25Index.topDocs ran $n jobs with live tombstones (pin $Bm25Pin)")
  }

  test("DedupIndex.filterNew with live tombstones stays within its pinned job count") {
    val dir = tmpDir("dedup")
    val tbl = "graft_tombjobs_dedup"
    DedupIndex.build(docs(0 until 80), dir, tbl, nBuckets = 4)
    assert(DedupIndex.delete(spark, tbl, spark.range(0, 80, 6).select($"id".as("doc_id"))) > 0)
    val batch = docs(40 until 120).select(($"doc_id" + 1000L).as("doc_id"), $"text")
    val n = jobsOf(DedupIndex.filterNew(spark, tbl, batch).collect())
    assert(n <= DedupPin, s"DedupIndex.filterNew ran $n jobs with live tombstones (pin $DedupPin)")
  }

  test("NearDupIndex.probePairs with live tombstones stays within its pinned job count") {
    val dir = tmpDir("neardup")
    val pfx = "graft_tombjobs_nd"
    NearDupIndex.build(docs(0 until 80), dir, pfx, nBuckets = 4)
    assert(NearDupIndex.delete(spark, pfx, spark.range(0, 80, 6).select($"id".as("doc_id"))) > 0)
    val batch = docs(0 until 40).select(($"doc_id" + 5000L).as("doc_id"), $"text")
    val n = jobsOf(NearDupIndex.probePairs(spark, pfx, batch).collect())
    assert(n <= NearDupPin,
      s"NearDupIndex.probePairs ran $n jobs with live tombstones (pin $NearDupPin)")
  }

  // Measured on these exact corpora (SparkSpec's local[4] session).
  private val AnnPin = 8
  private val Bm25Pin = 12
  private val DedupPin = 4
  private val NearDupPin = 7
}
