package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One timed call: a gate (construct + forcing action) or a serve request.
  * `engine` holds the call's own engine counters when a workload splits a
  * traced unit per op. */
final case class Op(kind: String, latencyNs: Long, ok: Boolean, detail: String = "",
                    engine: Option[EngineCounters] = None)

/** A benchmark workload over one session. `setup` builds program state and
  * warms up, returning the parts that add up to its set-up (name -> seconds);
  * `unit` runs one measured unit (a gate pass, or a block of one request of
  * each type). */
trait Workload {
  def setup(): Seq[(String, Double)]
  def unit(): Seq[Op]
  /** Ops run during set-up (cold pass, warm-up requests): checked, not timed. */
  def setupOps: Seq[Op]
  /** Checks that hold over the whole run, made after the last unit. */
  def runChecks(): Seq[String] = Seq.empty
  /** Module-level figures for the summary and trace file: name -> (value, unit). */
  def extra(): Seq[(String, Double, String)] = Seq.empty
}

object Workload {
  /** Drops cached and checkpointed data between gates, as Verify and Bench
    * do, so one gate's intermediates do not serve the next. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; infinite samples sort last. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
