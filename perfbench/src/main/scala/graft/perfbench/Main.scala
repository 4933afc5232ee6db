package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** graft's benchmark: one seeded closed-loop workload per run, driven by
  * one client thread against a `local[<cores>]` session.
  *
  * {{{
  *   Main --workload <store_ingest|store_query|index_serve> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  * }}}
  *
  * The last stdout line is the result object. With `--trace 0` it holds
  * the end-to-end metrics; with `--trace 1` the per-layer metrics, taken
  * from spans around every call into a layer in every other cycle.
  * The exit code is 1 when an answer check failed.
  */
object Main {
  /** Span measures reported for each layer call, by span name. */
  private val SpanMetrics: Seq[(String, Seq[String])] = Seq(
    "core.SummaryDB.append" -> Seq("wall_s", "jobs", "tasks", "driver_s", "task_cpu_s",
      "shuffle_bytes", "input_bytes"),
    "core.SummaryDB.query" -> Seq("wall_s", "jobs", "driver_s", "task_cpu_s"),
    "core.SummaryDB.summaryWindows" -> Seq("wall_s"),
    "core.QueryEngine.landmarkDigests" -> Seq("wall_s", "jobs"),
    "core.QueryEngine.rangeQueryAll" -> Seq("wall_s", "jobs", "shuffle_bytes"),
    "estimator.SumEstimator.queryDigest" -> Seq("wall_s"),
    "ops.Bm25Index.topDocs" -> Seq("wall_s", "jobs", "driver_s", "shuffle_bytes"),
    "ops.AnnIndex.topK" -> Seq("wall_s", "jobs", "shuffle_bytes"),
    "ops.Retrieval.hybridTopK" -> Seq("wall_s", "jobs", "shuffle_bytes"),
    "ops.Bm25Index.append" -> Seq("wall_s", "jobs"),
    "ops.Bm25Index.delete" -> Seq("wall_s", "jobs"),
    "ops.AnnIndex.append" -> Seq("wall_s", "jobs"),
    "ops.AnnIndex.delete" -> Seq("wall_s", "jobs"),
    "ops.Bm25Index.compact" -> Seq("wall_s", "jobs"),
    "ops.DedupIndex.ingest" -> Seq("wall_s", "jobs"),
    "ops.NearDupIndex.ingest" -> Seq("wall_s", "jobs"))

  /** Per-layer values a workload computes itself (0 where it has none). */
  private val WorkloadMetrics = Seq(
    "core.SummaryDB.append.output_bytes_per_input_byte",
    "core.SummaryDB.store.summary_windows", "core.SummaryDB.store.summary_bytes",
    "core.SummaryDB.store.wal_bytes", "core.SummaryDB.store.wal_dirs",
    "core.QueryEngine.queryOne.windows_read",
    "estimator.SumEstimator.queryDigest.rel_err_p50",
    "estimator.SumEstimator.queryDigest.ci_coverage",
    "ops.Bm25Index.topDocs.cache_hit_share", "ops.Bm25Index.topDocs.pruned_share",
    "ops.Bm25Index.topDocs.terms_scanned",
    "ops.DedupIndex.ingest.survivor_share", "ops.NearDupIndex.ingest.survivor_share",
    "ops.Bm25Index.stats.data_files")

  private def units(name: String): String = name.split('.').last match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") => "bytes"
    case m if m.endsWith("_share") || m.endsWith("_per_input_byte") || m.endsWith("_p50") ||
      m == "ci_coverage" => "ratio"
    case _ => "count"
  }

  private def spanMeasure(s: Span, m: String): Double = m match {
    case "wall_s" => s.wallS
    case "jobs" => s.total(_.jobs).toDouble
    case "tasks" => s.total(_.tasks).toDouble
    case "driver_s" => s.driverS
    case "task_cpu_s" => s.total(_.cpuNs) / 1e9
    case "shuffle_bytes" => s.total(_.shuffleBytes).toDouble
    case "input_bytes" => s.total(_.inputBytes).toDouble
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val sessionT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "2048")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - sessionT0) / 1e9

    val rec = new Recorder
    val tr = new Tracer(spark.sparkContext)
    val ctx = Ctx(spark, work, seed, trace, rec, tr)
    val w: Workload = workload match {
      case "store_ingest" => new StoreWorkload(ctx, landmarks = false)
      case "store_query" => new StoreWorkload(ctx, landmarks = true)
      case "index_serve" => new IndexWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val setupT0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - setupT0) / 1e9
    rec.warming = true
    w.warmup()
    rec.warming = false

    val gc0 = gcSeconds
    val loopT0 = System.nanoTime()
    val deadline = loopT0 + (seconds * 1e9).toLong
    // A traced run alternates untraced and traced cycles and stops after
    // a traced one, so every kind of operation is seen both ways.
    val unit = if (trace) 2 * w.cycle else w.cycle
    var i = 0L
    while (System.nanoTime() < deadline || i % unit != 0) {
      val traced = trace && (i / w.cycle) % 2 == 1
      tr.op(i, traced)(w.step(i, traced))
      i += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val gcS = gcSeconds - gc0

    val finishT0 = System.nanoTime()
    scala.util.Try(w.finish()).failed.foreach(e => rec.check(false, s"final checks: $e"))
    val layer = w.layerMetrics
    val disk = w.diskBytes.toDouble / math.max(1L, w.inputBytes)
    val finishS = (System.nanoTime() - finishT0) / 1e9
    // Spark's ContextCleaner frees unreferenced checkpoint and broadcast
    // blocks asynchronously after a GC, so collect, wait, and repeat.
    val heapMb = {
      val rt = Runtime.getRuntime
      (0 until 3).map { _ =>
        System.gc()
        Thread.sleep(300)
        (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      }.min
    }

    val writes = rec.ops.filter(_.write).map(_.secs).toSeq
    val reads = rec.ops.filterNot(_.write).map(_.secs).toSeq
    // Each operation kind's median, averaged over the kinds of a role.
    def kindP50(write: Boolean): Double = {
      val kinds = rec.ops.filter(_.write == write).groupBy(_.kind).values.map(os => Stats.median(os.map(_.secs).toSeq))
      if (kinds.isEmpty) 0.0 else kinds.sum / kinds.size
    }
    def tailDetail(xs: Seq[Double]) = Map("samples" -> xs.size) ++
      Stats.tail(xs).map { case (v, p) => Map("value_s" -> v, "percentile" -> p) }.getOrElse(Map.empty)
    val byKind = rec.ops.groupBy(_.kind).map { case (k, os) =>
      k -> Map("n" -> os.size, "p50_s" -> Stats.median(os.map(_.secs).toSeq),
        "samples_s" -> os.map(o => math.rint(o.secs * 1e4) / 1e4).toSeq)
    }
    val correct = rec.checkFailures.isEmpty

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("write_p50_s", kindP50(write = true), "s"),
        ("write_rows_per_s", rec.ops.filter(_.write).map(_.rows).sum / math.max(1e-9, writes.sum), "rows/s"),
        ("read_p50_s", kindP50(write = false), "s"),
        ("disk_bytes_per_input_byte", disk, "ratio"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        val spans = SpanMetrics.flatMap { case (name, measures) =>
          val ss = tr.named(name)
          measures.map(m => (s"$name.$m", Stats.median(ss.map(spanMeasure(_, m))), units(m)))
        }
        val own = WorkloadMetrics.map(n => (n, layer.getOrElse(n, 0.0), units(n)))
        val loopSpans = tr.all.filter(_.opId >= 0)
        // Overhead: per operation kind, median traced latency over median
        // untraced latency, weighted by how often the kind ran.
        val (tSum, uSum) = rec.ops.groupBy(_.kind).values.foldLeft((0.0, 0.0)) { case ((a, b), os) =>
          val (t, u) = os.partition(_.traced)
          if (t.isEmpty || u.isEmpty) (a, b)
          else (a + os.size * Stats.median(t.map(_.secs).toSeq), b + os.size * Stats.median(u.map(_.secs).toSeq))
        }
        spans ++ own ++ Seq(
          ("spark.gc_s", gcS, "s"),
          ("spark.spill_bytes", loopSpans.map(_.own.spillBytes).sum.toDouble, "bytes"),
          ("spark.jobs", loopSpans.map(_.own.jobs).sum.toDouble / math.max(1, rec.ops.count(_.traced)), "count"),
          ("trace.overhead_share", if (uSum > 0) tSum / uSum - 1.0 else 0.0, "ratio"))
      }

    opts.get("trace-out").filter(_ => trace).foreach(tr.write)

    val detail = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "session_start_s" -> sessionS, "setup_s" -> setupS,
      "setup_phases_s" -> w.setupPhases.toMap, "loop_s" -> loopS,
      "finish_s" -> finishS, "ops" -> byKind,
      "write_tail" -> tailDetail(writes), "read_tail" -> tailDetail(reads),
      "failed_op_share" -> rec.failed.toDouble / math.max(1L, rec.attempted),
      "errors" -> rec.errors.toSeq, "check_failures" -> rec.checkFailures.toSeq) ++ w.details
    println(Json.value(detail))
    println(Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) })))))
    spark.stop()
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
