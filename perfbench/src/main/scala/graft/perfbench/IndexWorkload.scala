package graft.perfbench

import scala.collection.mutable

import graft.ops.{AnnIndex, Bm25Index, DedupIndex, NearDupIndex, Retrieval, Similarity}
import org.apache.spark.sql.{DataFrame, Row}

/** A seeded corpus: Zipf-distributed terms, a few topic terms per
  * document, and a vector per document drawn around its topic's
  * centroid, so text and vectors agree.
  */
final class Corpus(seed: Long) {
  val Vocab = 4000000
  val DocTerms = 50
  val Dim = 16
  val Topics = 32
  private val rnd = new java.util.Random(seed * 31L + 7L)
  private val centroids = Array.fill(Topics, Dim)(rnd.nextGaussian().toFloat)

  /** Zipf(1) rank in [1, v]. */
  private def zipf(v: Int): Int = math.exp(rnd.nextDouble() * math.log(v.toDouble)).toInt.max(1)
  private def topicTerm(t: Int) = s"c${t}k${rnd.nextInt(10)}"

  def vector(topic: Int): Array[Float] = centroids(topic).map(_ + 0.6f * rnd.nextGaussian().toFloat)

  def doc(): (String, Array[Float]) = {
    val topic = rnd.nextInt(Topics)
    ((Seq.fill(DocTerms)("t" + zipf(Vocab)) ++ Seq.fill(3)(topicTerm(topic))).mkString(" "), vector(topic))
  }

  /** A query: two head terms, one term from the whole vocabulary and a topic term. */
  def query(): (String, Array[Float]) = {
    val topic = rnd.nextInt(Topics)
    (Seq("t" + zipf(1000), "t" + zipf(1000), "t" + zipf(Vocab), topicTerm(topic)).mkString(" "), vector(topic))
  }

  /** Replaces one term: a near duplicate of `text`. */
  def nearCopy(text: String): String = {
    val ts = text.split(' ')
    ts(rnd.nextInt(ts.length)) = "t" + zipf(Vocab)
    ts.mkString(" ")
  }

  def pick(n: Int): Int = rnd.nextInt(n)
}

/** The serving tier: BM25, ANN and hybrid probe batches in rotation
  * with a curated-ingest batch (DedupIndex -> NearDupIndex -> BM25 and
  * ANN appends) and a takedown batch (BM25 and ANN deletes). Mutations
  * invalidate the BM25 probe cache.
  */
final class IndexWorkload(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val Docs = 3000
  private val QueryBatch = 16
  private val K = 10
  private val IngestBatch = 60
  private val TakedownBatch = 30
  private val QueryIdBase = 1000000000L

  private var corpus: Corpus = _
  private val bmDir = s"$work/bm25"
  private val annDir = s"$work/ann"
  private val dedupDir = s"$work/dedup"
  private val ndDir = s"$work/neardup"
  private val DedupTable = "perfbench_dedup"
  private val NearDupPrefix = "perfbench_neardup"
  private var cells = 0
  private val live = mutable.LinkedHashMap.empty[Long, (String, Array[Float])]
  private val deleted = mutable.HashSet.empty[Long]
  private var nextDoc = 0L
  private var nextQuery = QueryIdBase
  private var input = 0L

  private val reports = mutable.ArrayBuffer.empty[Bm25Index.ProbeReport]
  private var dedupIn, dedupOut, ndOut = 0L
  private var pruneChecks, annChecks = 0L
  private var dataFiles = 0L

  private def docBytes(text: String, v: Array[Float]): Long =
    8L + text.getBytes("UTF-8").length + 4L * v.length

  private def docsFrame(ds: Seq[(Long, String)]): DataFrame = ds.toDF("doc_id", "text")
  private def vecFrame(vs: Seq[(Long, Array[Float])]): DataFrame =
    vs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")

  def setup(): Unit = {
    corpus = new Corpus(seed)
    (0 until Docs).foreach { _ =>
      val (t, v) = corpus.doc()
      live(nextDoc) = (t, v); input += docBytes(t, v); nextDoc += 1
    }
    val docs = docsFrame(live.iterator.map { case (id, (t, _)) => (id, t) }.toSeq).cache()
    phase("bm25")(Bm25Index.build(docs, bmDir, nTb = 8))
    cells = phase("ann")(AnnIndex.build(vecFrame(live.iterator.map { case (id, (_, v)) => (id, v) }.toSeq), annDir, nClusters = 16, iters = 2))
    phase("dedup")(DedupIndex.build(docs, dedupDir, DedupTable, nBuckets = 8))
    phase("neardup")(NearDupIndex.build(docs, ndDir, NearDupPrefix, nBuckets = 8))
    docs.unpersist()
  }

  /** One probe of each kind and one of each update per cycle. */
  private val Cycle = Seq("bm25", "ann", "ingest", "hybrid", "takedown")
  def cycle: Int = Cycle.size
  /** One BM25 probe: the first probe after a build pays one-time costs
    * that later probes do not. The other kinds share code paths with
    * the builds the set-up ran; warming them up too would not fit the
    * benchmark's time budget.
    */
  def warmup(): Unit = bm25Probe(traced = false)

  private def queries(): Seq[(Long, String, Array[Float])] = Seq.fill(QueryBatch) {
    val (t, v) = corpus.query()
    nextQuery += 1
    (nextQuery, t, v)
  }

  private def checkNoDeleted(ids: Iterable[Long], what: String): Unit =
    rec.check(!ids.exists(deleted), s"$what returned a deleted document")

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  private def bm25Probe(traced: Boolean): Unit = {
    val qs = queries()
    val qdf = qs.map { case (id, t, _) => (id, t) }.toDF("query_id", "text")
    rec.timed("bm25_probe", write = false, rows = qs.size.toLong, traced) {
      tr.span("ops.Bm25Index.topDocs") {
        val (df, rep) = Bm25Index.topDocsWithReport(spark, bmDir, qdf, K)
        val rows = df.collect()
        tr.attr("terms_scanned", rep.termsScanned.toDouble)
        (rows, rep)
      }
    }.foreach { case (rows, rep) =>
      reports += rep
      checkNoDeleted(rows.map(_.getAs[Long]("doc_id")), "BM25 probe")
      // The pruned probe must equal the exhaustive one bit for bit (sampled).
      if (reports.size % 4 == 1) pruneCheck(qdf, rows, "BM25 probe")
    }
  }

  private def pruneCheck(qdf: DataFrame, rows: Array[Row], what: String): Unit = {
    pruneChecks += 1
    val full = Bm25Index.topDocs(spark, bmDir, qdf, K, prune = false).collect()
    rec.check(sorted(rows) == sorted(full), s"$what: pruned and exhaustive top-$K differ")
  }

  private def annProbe(traced: Boolean): Unit = {
    val qs = queries()
    val qdf = vecFrame(qs.map { case (id, _, v) => (id, v) })
    rec.timed("ann_probe", write = false, rows = qs.size.toLong, traced) {
      tr.span("ops.AnnIndex.topK")(AnnIndex.topK(spark, annDir, qdf, K, excludeSelf = false).collect())
    }.foreach(rows => checkNoDeleted(rows.map(_.getAs[Long]("neighbor_id")), "ANN probe"))
  }

  private def hybridProbe(traced: Boolean): Unit = {
    val qs = queries()
    val qdf = qs.map { case (id, t, v) => (id, t, v.toSeq) }.toDF("query_id", "text", "embedding")
    rec.timed("hybrid_probe", write = false, rows = qs.size.toLong, traced) {
      tr.span("ops.Retrieval.hybridTopK")(
        Retrieval.hybridTopK(spark, bmDir, annDir, qdf, K, excludeSelf = false).collect())
    }.foreach(rows => checkNoDeleted(rows.map(_.getAs[Long]("doc_id")), "hybrid probe"))
  }

  /** Exact copies, one-term edits and new documents, DedupIndex first. */
  private def curatedIngest(traced: Boolean): Unit = {
    val ids = live.keys.toIndexedSeq
    val batch = (0 until IngestBatch).map { j =>
      val id = nextDoc + j
      j % 4 match {
        case 0 => (id, live(ids(corpus.pick(ids.size)))._1, corpus.vector(corpus.pick(corpus.Topics)))
        case 1 => (id, corpus.nearCopy(live(ids(corpus.pick(ids.size)))._1), corpus.vector(corpus.pick(corpus.Topics)))
        case _ => val (t, v) = corpus.doc(); (id, t, v)
      }
    }
    nextDoc += IngestBatch
    val vecs = batch.map(b => b._1 -> b._3).toMap
    val batchDf = docsFrame(batch.map(b => (b._1, b._2)))
    rec.timed("curated_ingest", write = true, rows = batch.size.toLong, traced) {
      val survivors = tr.span("ops.DedupIndex.ingest")(DedupIndex.ingest(spark, DedupTable, batchDf))
      val kept = tr.span("ops.NearDupIndex.ingest") {
        NearDupIndex.ingest(spark, NearDupPrefix, survivors.select("doc_id", "text"))
      }
      tr.span("ops.Bm25Index.append")(Bm25Index.append(spark, bmDir, kept))
      tr.span("ops.AnnIndex.append")(AnnIndex.append(spark, annDir,
        vecFrame(batch.map(b => b._1 -> b._3)).join(kept.select($"doc_id".as("vec_id")), "vec_id")))
      (survivors, kept)
    }.foreach { case (survivors, kept) =>
      // both frames are checkpointed by the ingest calls: reading them back reruns nothing
      val keptRows = kept.select("doc_id", "text").as[(Long, String)].collect()
      dedupIn += batch.size; dedupOut += survivors.count(); ndOut += keptRows.length
      batch.foreach(b => input += docBytes(b._2, b._3))
      keptRows.foreach { case (id, t) => live(id) = (t, vecs(id)) }
    }
  }

  private def takedown(traced: Boolean): Unit = {
    val ids = live.keys.toIndexedSeq
    val gone = Seq.fill(TakedownBatch)(ids(corpus.pick(ids.size))).distinct
    rec.timed("takedown", write = true, rows = gone.size.toLong, traced) {
      tr.span("ops.Bm25Index.delete")(Bm25Index.delete(spark, bmDir, gone.toDF("doc_id")))
      tr.span("ops.AnnIndex.delete")(AnnIndex.delete(spark, annDir, gone.toDF("vec_id")))
    }.foreach { _ => gone.foreach { id => live.remove(id); deleted += id } }
  }

  def step(i: Long, traced: Boolean): Unit = Cycle((i % Cycle.size).toInt) match {
    case "bm25" => bm25Probe(traced)
    case "ann" => annProbe(traced)
    case "hybrid" => hybridProbe(traced)
    case "ingest" => curatedIngest(traced)
    case _ => takedown(traced)
  }

  /** Compares ANN at full probe depth with exact cosine top-k. The
    * traced run also compacts BM25 and re-checks pruning on the result.
    */
  def finish(): Unit = {
    dataFiles = Bm25Index.stats(spark, bmDir).dataFiles
    val qs = queries()
    if (ctx.trace) {
      tr.op(-1, traced = true)(tr.span("ops.Bm25Index.compact")(Bm25Index.compact(spark, bmDir)))
      val qdf = qs.map { case (id, t, _) => (id, t) }.toDF("query_id", "text")
      pruneCheck(qdf, Bm25Index.topDocs(spark, bmDir, qdf, K).collect(), "BM25 probe after compact")
    }

    annChecks += 1
    val got = AnnIndex.topK(spark, annDir, vecFrame(qs.map { case (id, _, v) => (id, v) }), K,
      nProbe = cells, excludeSelf = false).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank"),
        r.getAs[Double]("score"))).toSeq.sorted
    val exact = qs.flatMap { case (qid, _, qv) =>
      live.iterator.map { case (id, (_, v)) =>
        (id, BigDecimal(Similarity.cosine(qv.toSeq, v.toSeq)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K).zipWithIndex
        .map { case ((id, s), r) => (qid, id, r + 1L, s) }
    }.sorted
    rec.check(got == exact, s"ANN at full depth differs from exact cosine top-$K: " +
      got.diff(exact).take(3).mkString(", "))
  }

  def diskBytes: Long = Seq(bmDir, annDir, dedupDir, ndDir).map(Workload.dirBytes(spark, _)).sum
  def inputBytes: Long = input

  def layerMetrics: Map[String, Double] = Map(
    "ops.Bm25Index.topDocs.cache_hit_share" ->
      reports.count(_.stampHit).toDouble / math.max(1, reports.size),
    "ops.Bm25Index.topDocs.pruned_share" ->
      reports.count(_.path == "pruned").toDouble / math.max(1, reports.size),
    "ops.Bm25Index.topDocs.terms_scanned" -> Stats.median(reports.map(_.termsScanned.toDouble).toSeq),
    "ops.DedupIndex.ingest.survivor_share" -> dedupOut.toDouble / math.max(1L, dedupIn),
    "ops.NearDupIndex.ingest.survivor_share" -> ndOut.toDouble / math.max(1L, dedupOut),
    "ops.Bm25Index.stats.data_files" -> dataFiles.toDouble)

  def details: Map[String, Any] = Map(
    "docs_live" -> live.size, "docs_deleted" -> deleted.size, "ann_cells" -> cells,
    "prune_checks" -> pruneChecks, "ann_checks" -> annChecks,
    "bm25_cache_hit_share" -> layerMetrics("ops.Bm25Index.topDocs.cache_hit_share"))
}
