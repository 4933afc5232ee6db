package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. `trace`: this run
  * records spans, in every other cycle of the loop.
  */
final case class Ctx(spark: SparkSession, work: String, seed: Long, trace: Boolean, rec: Recorder, tr: Tracer)

/** One benchmark workload: a timed set-up, an untimed warm-up, one
  * closed-loop step at a time, and untimed checks.
  *
  * Steps follow a fixed cycle of operation kinds, and the loop only
  * stops at the end of a cycle, so every run does the same mix.
  */
trait Workload {
  /** Builds the workload's store or indexes from the seed. */
  def setup(): Unit
  /** Steps per cycle of operation kinds. */
  def cycle: Int
  /** Untimed operations run once before timing starts, so that the
    * first timed call of each kind does not pay one-time costs.
    */
  def warmup(): Unit
  /** Step `i` of the closed loop; timed through `Ctx.rec`. */
  def step(i: Long, traced: Boolean): Unit
  /** Answer checks that need the final state. */
  def finish(): Unit
  def diskBytes: Long
  def inputBytes: Long
  /** Workload-specific per-layer values (span metrics come from the tracer). */
  def layerMetrics: Map[String, Double]
  /** Per-operation-kind medians and answer-quality figures for the detail line. */
  def details: Map[String, Any]

  /** Seconds per set-up phase, for the detail line. */
  val setupPhases = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  protected def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupPhases(name) = (System.nanoTime() - t0) / 1e9
  }
}

object Workload {
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}
