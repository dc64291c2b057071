package graft.perfbench

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.SparkSession

/** Listener-backed layer counters, read as deltas around a region. The
  * listeners are attached only while tracing, so untraced samples run
  * exactly as a plain session does.
  */
final class Meter(spark: SparkSession) {
  private val counters = new SparkCounters
  private val phases = new PlanPhases
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(phases)
    attached = true
  }

  def detach(): Unit = if (attached) {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(phases)
    attached = false
  }

  /** Current totals, after the listener bus has delivered every event. */
  def read(): Map[String, Double] = {
    Bus.drain(spark.sparkContext)
    counters.snapshot ++ phases.snapshot ++ Map(
      "spark.gc_s" -> Host.gcSeconds(),
      "wall_s" -> System.nanoTime() / 1e9)
  }
}

object Meter {
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  /** The listener-derived per-layer metrics of one region. */
  def layerMetrics(d: Map[String, Double]): Map[String, Double] = {
    val wall = d("wall_s")
    (d - "wall_s") + ("spark.core_util" ->
      (if (wall > 0) d("spark.task_s") / (wall * Host.cores) else 0.0))
  }

}
