package graft.perfbench

import scala.collection.mutable

import graft.core._
import graft.estimator.SumEstimator
import org.apache.spark.sql.functions.col

/** Exact count/sum/max over one generated stream. */
final class Oracle {
  private val ts = mutable.ArrayBuffer.empty[Long]
  private val vs = mutable.ArrayBuffer.empty[Long]
  private val prefix = mutable.ArrayBuffer(0L)

  def add(e: Event): Unit = { ts += e.ts; vs += e.value.toLong; prefix += prefix.last + e.value.toLong }
  def first: Long = ts.head
  def last: Long = ts.last

  /** Index of the first element with timestamp >= t. */
  private def lowerBound(t: Long): Int = {
    var lo = 0
    var hi = ts.size
    while (lo < hi) { val m = (lo + hi) >>> 1; if (ts(m) < t) lo = m + 1 else hi = m }
    lo
  }

  def answer(op: String, t0: Long, t1: Long): Double = {
    val a = lowerBound(t0)
    val b = lowerBound(t1 + 1)
    op match {
      case "count" => (b - a).toDouble
      case "sum" => (prefix(b) - prefix(a)).toDouble
      case "max" => if (b > a) (a until b).map(vs).max.toDouble else SummaryWindow.EmptyMax
    }
  }
}

/** Arrivals of one stream: Poisson, bursty or periodic by stream id,
  * with strictly increasing timestamps and whole-number values (so a
  * sum is exact in double arithmetic).
  */
final class StreamGen(seed: Long, sid: Int) {
  private val rnd = new java.util.Random(seed * 1000003L + sid * 7919L)
  private var ts = 1000L
  private var seq = 0L
  private var burstLeft = 0

  def next(): Event = {
    val gap = sid % 3 match {
      case 0 => 1L + (-math.log(1.0 - rnd.nextDouble()) * 9.0).toLong
      case 1 =>
        if (burstLeft > 0) { burstLeft -= 1; 1L }
        else { burstLeft = 20 + rnd.nextInt(60); 200L + rnd.nextInt(800) }
      case _ => 10L
    }
    ts += gap
    val v = if (sid % 3 == 1 && burstLeft > 0) 50 + rnd.nextInt(50) else rnd.nextInt(100)
    seq += 1
    Event(sid.toLong, seq - 1, ts, v.toDouble)
  }
}

/** The SummaryStore workloads.
  *
  * `store_ingest` (landmarks = false): every loop step appends one batch
  * through `SummaryDB.append`, which takes the incremental compaction
  * path because the store has no landmarks, then reads it back with one
  * `SummaryDB.query` and one fleet-wide `QueryEngine.rangeQueryAll`.
  *
  * `store_query` (landmarks = true): set-up appends the fleet and
  * declares landmarks on single streams and on all streams; the loop
  * cycles through `SummaryDB.query` over five kinds of range, a
  * fleet-wide query and a small append, which re-reads the WAL because
  * landmarks exist.
  */
final class StoreWorkload(ctx: Ctx, landmarks: Boolean) extends Workload {
  import ctx._
  import spark.implicits._

  private val Streams = 6
  private val IngestBatch = 2400
  private val FleetBatches = 4
  private val FleetBatch = 10000
  private val TrickleBatch = 400
  private val QueryCycle = Seq("query", "query", "fleet", "query", "query", "trickle")
  private val Ops = Seq("count", "sum")

  private def meta(sid: Int): StreamMeta =
    if (sid % 2 == 0) StreamMeta.exponential(sid, 2.0) else StreamMeta.power(sid, 1, 1, 10, 1)

  private val rnd = new java.util.Random(seed ^ 0x5eedL)
  private val dir = s"$work/store"
  private var db: SummaryDB = _
  private val gens = (0 until Streams).map(new StreamGen(seed, _))
  private val oracles = IndexedSeq.fill(Streams)(new Oracle)
  private var events = 0L
  /** Exact intervals per stream: its own landmarks plus the global ones. */
  private var intervals = Map.empty[Int, Seq[(Long, Long)]]

  private val relErrs = mutable.ArrayBuffer.empty[Double]
  private var partialAnswers = 0L
  private var covered = 0L
  private var exactChecks = 0L
  private var boundChecks = 0L

  private def batch(n: Int): Seq[Event] = {
    val per = n / Streams
    (0 until Streams).flatMap(sid => Seq.fill(per)(gens(sid).next()))
  }

  private def append(evs: Seq[Event], global: Seq[(Long, Long)] = Nil): Unit = {
    val ds = evs.toDS()
    tr.span("core.SummaryDB.append") {
      tr.attr("input_event_bytes", evs.size * 32.0)
      db.append(ds, global)
    }
    evs.foreach(e => oracles(e.streamId.toInt).add(e))
    events += evs.size
    cache = None
  }

  def setup(): Unit = {
    db = SummaryDB.open(spark, dir)
    phase("streams")((0 until Streams).foreach(sid => db.newStream(meta(sid))))
    if (!landmarks) phase("append")(append(batch(IngestBatch)))
    else {
      phase("fleet")((1 to FleetBatches).foreach(_ => append(batch(FleetBatch))))
      def at(sid: Int, f: Double): Long = {
        val o = oracles(sid)
        o.first + ((o.last - o.first) * f).toLong
      }
      val own = Map(0 -> (at(0, 0.30), at(0, 0.35)), 1 -> (at(1, 0.50), at(1, 0.55)))
      phase("landmarks")(own.foreach { case (sid, (a, b)) => db.newLandmark(sid, a, b) })
      val g = (at(2, 0.70), at(2, 0.72))
      phase("global")(append(batch(TrickleBatch), Seq(g)))
      intervals = (0 until Streams).map(sid => sid -> (own.get(sid).toSeq :+ g)).toMap
    }
  }

  def cycle: Int = if (landmarks) QueryCycle.size else 1
  /** Two cycles: within one minute of JVM start, the first steps are
    * still markedly slower than later ones.
    */
  def warmup(): Unit = (0 until 2 * cycle).foreach(i => step(i.toLong, traced = false))

  // ---------------------------------------------------------------- checks

  private var cache: Option[(Map[Long, Seq[SummaryWindow]], Seq[LandmarkSpan], Seq[LandmarkElem])] = None

  private def state = cache.getOrElse {
    val c = (db.summaryWindows.collect().toSeq.groupBy(_.streamId),
      db.landmarkSpans.collect().toSeq, db.landmarkElems.collect().toSeq)
    cache = Some(c)
    c
  }

  /** Windows overlapping [t0, t1] and the landmark digests, as the
    * query path reads them, from a driver-side copy of the tables.
    */
  private def readSet(sid: Int, t0: Long, t1: Long): (Seq[SummaryWindow], Seq[LandmarkDigest]) = {
    val (sw, spans, elems) = state
    val s = sw.getOrElse(sid.toLong, Nil).filter(w => w.te >= t0 && w.ts <= t1).sortBy(_.ts)
    val l = spans.filter(sp => sp.streamId == sid && sp.te >= t0 && sp.ts <= t1).map { sp =>
      val vs = elems.filter(e => e.streamId == sid && e.windowId == sp.windowId && e.ts >= t0 && e.ts <= t1)
        .map(_.value)
      LandmarkDigest(sid, sp.ts, sp.te, vs.size.toLong, vs.sum,
        if (vs.isEmpty) SummaryWindow.EmptyMax else vs.max,
        if (vs.isEmpty) SummaryWindow.EmptyMin else vs.min)
    }.sortBy(_.ts)
    (s, l)
  }

  private def inLandmark(sid: Int, t0: Long, t1: Long): Boolean =
    intervals.getOrElse(sid, Nil).exists { case (a, b) => a <= t0 && t1 <= b }

  /** Exact answers must match; partial count/sum answers feed the error
    * figures, and a partial count must lie within the hard bounds.
    */
  private def checkAnswer(sid: Int, op: String, t0: Long, t1: Long, r: AggResult,
      forceExact: Boolean = false): Unit = {
    val o = oracles(sid)
    val exact = o.answer(op, t0, t1)
    val what = s"stream $sid $op [$t0, $t1]"
    if (forceExact || (t0 <= o.first && o.last <= t1) || inLandmark(sid, t0, t1)) {
      exactChecks += 1
      rec.check(r.value == exact, s"$what: got ${r.value}, exact $exact")
    } else if (op != "max") {
      partialAnswers += 1
      relErrs += math.abs(r.value - exact) / math.max(math.abs(exact), 1.0)
      if (math.abs(r.value - exact) <= r.error / 2) covered += 1
      if (op == "count") {
        boundChecks += 1
        val (s, l) = readSet(sid, t0, t1)
        val b = SumEstimator.boundsQueryDigest("count", t0, t1, s, l)
        val eps = 1e-9 * math.max(1.0, b.upper)
        rec.check(b.lower - eps <= r.value && r.value <= b.upper + eps,
          s"$what: estimate ${r.value} outside [${b.lower}, ${b.upper}]")
        rec.check(b.lower - eps <= exact && exact <= b.upper + eps,
          s"$what: exact $exact outside [${b.lower}, ${b.upper}]")
      }
    }
  }

  // ----------------------------------------------------------------- steps

  /** One `SummaryDB.query`; the traced run replays its body through the
    * public calls it makes and checks that the replay gives the same answer.
    */
  private def query(sid: Int, op: String, t0: Long, t1: Long, traced: Boolean): Unit =
    rec.timed("query", write = false, rows = 0, traced) {
      tr.span("core.SummaryDB.query")(db.query(sid, op, t0, t1))
    }.foreach { r =>
      if (traced) {
        val replay = tr.span("core.QueryEngine.queryOne") {
          val sw = tr.span("core.SummaryDB.summaryWindows")(db.summaryWindows)
          val s = sw.filter(col("streamId") === sid && col("te") >= t0 && col("ts") <= t1)
            .collect().sortBy(_.ts).toSeq
          val l = tr.span("core.QueryEngine.landmarkDigests") {
            QueryEngine.landmarkDigests(db.landmarkSpans.filter(col("streamId") === sid),
              db.landmarkElems.filter(col("streamId") === sid), t0, t1).collect().sortBy(_.ts).toSeq
          }
          tr.attr("windows_read", (s.size + l.size).toDouble)
          tr.span("estimator.SumEstimator.queryDigest")(
            SumEstimator.queryDigest(op, t0, t1, s, l, QueryParams()))
        }
        rec.check(replay == r, s"replay of stream $sid $op [$t0, $t1]: $replay != $r")
      }
      checkAnswer(sid, op, t0, t1, r)
    }

  private def span(sid: Int): (Long, Long) = (oracles(sid).first, oracles(sid).last)

  private def ingestStep(traced: Boolean): Unit = {
    val evs = batch(IngestBatch)
    val ok = rec.timed("append", write = true, rows = evs.size.toLong, traced)(append(evs))
    if (ok.isDefined) {
      val sid = rnd.nextInt(Streams)
      val (first, last) = span(sid)
      rnd.nextInt(3) match {
        case 0 => query(sid, Seq("count", "sum", "max")(rnd.nextInt(3)), first, last, traced)
        case 1 =>
          val recent = evs.find(_.streamId == sid).map(_.ts).getOrElse(last)
          query(sid, Ops(rnd.nextInt(2)), recent + rnd.nextInt(100), last, traced)
        case _ =>
          val a = first + (rnd.nextDouble() * (last - first)).toLong
          val b = a + (rnd.nextDouble() * (last - a)).toLong
          query(sid, Ops(rnd.nextInt(2)), a, b, traced)
      }
      fleetQuery(traced)
    }
  }

  /** `QueryEngine.rangeQueryAll` over all streams: the whole time range
    * (exact) or a partial one.
    */
  private def fleetQuery(traced: Boolean): Unit = {
    val op = Ops(rnd.nextInt(2))
    val (first, last) = span(rnd.nextInt(Streams))
    val (t0, t1) =
      if (rnd.nextBoolean()) (oracles.map(_.first).min, oracles.map(_.last).max)
      else { val a = first + (rnd.nextDouble() * (last - first)).toLong; (a, a + (last - a) / 2) }
    rec.timed("fleet_query", write = false, rows = 0, traced) {
      tr.span("core.QueryEngine.rangeQueryAll") {
        QueryEngine.rangeQueryAll(db.summaryWindows, db.landmarkSpans, db.landmarkElems,
          op, t0, t1, QueryParams()).as[(Long, Double, Double)].collect()
      }
    }.foreach { rows =>
      val expected = oracles.indices.filter(s => oracles(s).answer("count", t0, t1) > 0).toSet
      rec.check(expected.subsetOf(rows.map(_._1.toInt).toSet),
        s"fleet $op [$t0, $t1]: streams ${rows.map(_._1).sorted.mkString(",")}")
      rows.foreach { case (sid, v, e) => checkAnswer(sid.toInt, op, t0, t1, AggResult(v, e)) }
    }
  }

  private def queryStep(i: Long, traced: Boolean): Unit = QueryCycle((i % QueryCycle.size).toInt) match {
    case "trickle" =>
      val evs = batch(TrickleBatch)
      rec.timed("append", write = true, rows = evs.size.toLong, traced)(append(evs))
    case "fleet" => fleetQuery(traced)
    case _ =>
      val sid = rnd.nextInt(Streams)
      val (first, last) = span(sid)
      val len = last - first
      val (a, b) = intervals(sid)(rnd.nextInt(intervals(sid).size))
      val (t0, t1) = rnd.nextInt(5) match {
        case 0 => (last - len / 50 - rnd.nextInt(100), last)         // recent, short
        case 1 => (first + rnd.nextInt(100), first + len / 2)         // old, long
        case 2 => val w = (b - a) / 2; (a - w, a + w)                 // overlaps a landmark
        case 3 => val w = (b - a) / 10; (a + w, b - w)                // inside a landmark
        case _ => (first, last)                                       // full stream
      }
      // max has no estimate to check except where the answer is exact
      val exactRange = inLandmark(sid, t0, t1) || (t0 <= first && last <= t1)
      val op = if (exactRange) Seq("count", "sum", "max")(rnd.nextInt(3)) else Ops(rnd.nextInt(2))
      query(sid, op, t0, t1, traced)
  }

  def step(i: Long, traced: Boolean): Unit =
    if (landmarks) queryStep(i, traced) else ingestStep(traced)

  /** Window-aligned answers on one stream of each decay policy must
    * equal the exact values (full-stream ranges are checked in the loop).
    */
  def finish(): Unit = Seq(0, 1).foreach { sid =>
    val ws = state._1.getOrElse(sid.toLong, Nil).sortBy(_.ts)
    rec.check(ws.size >= 3, s"stream $sid has only ${ws.size} windows")
    if (ws.size >= 3) {
      val (t0, t1) = (ws(ws.size / 3).ts, ws(2 * ws.size / 3).te)
      Seq("count", "sum", "max").foreach { op =>
        checkAnswer(sid, op, t0, t1, db.query(sid, op, t0, t1), forceExact = true)
      }
    }
  }

  def diskBytes: Long = Workload.dirBytes(spark, dir)
  def inputBytes: Long = events * 32L

  def layerMetrics: Map[String, Double] = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tables = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath)
    val walDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/events")).count(_.isDirectory)
    val appends = tr.named("core.SummaryDB.append")
    val outPerIn = appends.map(_.total(_.outputBytes)).sum.toDouble /
      math.max(1.0, appends.map(_.attrs.getOrElse("input_event_bytes", 0.0)).sum)
    Map(
      "core.SummaryDB.append.output_bytes_per_input_byte" -> outPerIn,
      "core.SummaryDB.store.summary_windows" -> state._1.values.map(_.size).sum.toDouble,
      "core.SummaryDB.store.summary_bytes" -> tables.filter(_.getName.startsWith("summary_windows__v"))
        .map(p => Workload.dirBytes(spark, p.toString)).sum.toDouble,
      "core.SummaryDB.store.wal_bytes" -> Workload.dirBytes(spark, s"$dir/events").toDouble,
      "core.SummaryDB.store.wal_dirs" -> walDirs.toDouble,
      "core.QueryEngine.queryOne.windows_read" ->
        Stats.median(tr.named("core.QueryEngine.queryOne").map(_.attrs.getOrElse("windows_read", 0.0))),
      "estimator.SumEstimator.queryDigest.rel_err_p50" -> relErrP50,
      "estimator.SumEstimator.queryDigest.ci_coverage" -> coverage)
  }

  private def relErrP50: Double = Stats.median(relErrs.toSeq)
  private def coverage: Double = if (partialAnswers == 0) 0.0 else covered.toDouble / partialAnswers

  def details: Map[String, Any] = Map(
    "events_appended" -> events,
    "answer_rel_err_p50" -> relErrP50,
    "ci_coverage" -> coverage,
    "partial_answers" -> partialAnswers,
    "exact_checks" -> exactChecks,
    "bound_checks" -> boundChecks)
}
