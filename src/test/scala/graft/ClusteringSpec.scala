package graft

import graft.ops.{Clustering, Similarity}
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private lazy val embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("kmeans: deterministic, covers all points, k cells") {
    val (a1, c1) = Clustering.kmeans(embs, k = 8, iters = 3)
    val (a2, c2) = Clustering.kmeans(embs.repartition(7), k = 8, iters = 3)
    assert(a1.count() == embs.count())
    assert(c1.length == 8 && c1.zip(c2).forall { case (x, y) => x.sameElements(y) })
    val m1 = a1.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m2 = a2.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m1 == m2, "clustering depends on partitioning")
    assert(a1.select($"cluster").distinct().count() >= 2, "degenerate clustering")
  }

  test("ivf top-k: recall floor vs exact, never all-pairs") {
    val queries = embs.filter($"vec_id" < 20)
    val exact = Similarity.topK(embs, queries, k = 10)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Clustering.ivfTopK(embs, queries, k = 10, nClusters = 8, nProbe = 4)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall too low: $recall")
    // Probing 4 of 8 cells: candidate work is about half the corpus per
    // query, strictly less than brute force.
    assert(ivf.size <= exact.size)
  }

  test("centroidRows: a frame with many more partitions than cores takes the shuffle path") {
    // 64 range slices under local[4]: the driver combine would collect
    // 64 partial sets, 16x what a core-count estimate budgets for
    val pairs = spark.range(0L, 640L, 1L, 64)
      .map(i => ((i % 8L).toInt, Seq.fill(4)(((i % 13L).toFloat - 6f) / 8f)))
    assert(pairs.rdd.getNumPartitions == 64)
    // 8 keys x 4 dims: 4 cores' partials fit this budget, 64 partitions' don't
    val budget = 8L * (4L * 24L + 64L) * 16L
    val sc = spark.sparkContext
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten > 0L)
          shuffleStages.incrementAndGet()
    }
    def rows(): Seq[(Int, Seq[Long], Seq[Long])] =
      Clustering.centroidRows(pairs, Clustering.CentroidAgg, keys = 8L, dim = 4L)
        .map { case (c, a) => (c, a.sums.toSeq, a.counts.toSeq) }.sortBy(_._1).toSeq
    val old = Clustering.DriverCombineMaxBytes
    try {
      Clustering.DriverCombineMaxBytes = Long.MaxValue
      val combined = rows()
      Clustering.DriverCombineMaxBytes = budget
      sc.addSparkListener(listener)
      val shuffled = try {
        val r = rows()
        org.apache.spark.graftspec.ListenerBusDrain(sc)
        r
      } finally sc.removeSparkListener(listener)
      assert(shuffleStages.get() > 0, "the budget must route 64 partitions to the shuffle path")
      assert(shuffled == combined && combined.map(_._3.head).sum == 640L)
    } finally Clustering.DriverCombineMaxBytes = old
  }
}
