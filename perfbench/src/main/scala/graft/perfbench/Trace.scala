package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is (name, start, end, parent, sample):
  * driver-side spans nest through a per-thread stack; spans opened on other
  * threads (HTTP handler, executor-side JDBC statements) take the innermost
  * open driver span as their parent. Nothing is recorded while tracing is
  * off, so untraced runs pay one volatile read per call site.
  */
object Trace {
  final case class Span(id: Long, parent: Long, sample: Long, name: String,
                        startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var on = false
  @volatile var sample = 0L
  @volatile private var driverTop = 0L
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Driver-side span around `body`; nested calls become children. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      val prevTop = driverTop
      driverTop = id
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, sample, name, t0, System.nanoTime()))
        stack.set(outer)
        driverTop = prevTop
      }
    }

  /** Span for work running on a non-driver thread. */
  def leaf(name: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), driverTop, sample, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: each span's duration minus the part of its
    * interval covered by its children (children may overlap each other).
    */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def toJson: String = {
    val self = selfTimes
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"sample":${s.sample},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    val selfJson = self.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    s"""{"self_s":$selfJson,"spans":[${lines.mkString(",\n")}]}"""
  }
}

/** Scheduler counters, read as deltas around a sample. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
    }
    ()
  }

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_s" -> taskMs.get / 1e3,
    "spark.shuffle_write_mb" -> shuffleWrite.get / 1e6,
    "spark.shuffle_read_mb" -> shuffleRead.get / 1e6,
    "spark.spill_mb" -> spill.get / 1e6)
}

/** `QueryPlanningTracker` phase times of every successful action. */
final class PlanPhases extends QueryExecutionListener {
  val analysis = new DoubleAdder
  val optimization = new DoubleAdder
  val planning = new DoubleAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    p.get("analysis").foreach(s => analysis.add(s.durationMs / 1e3))
    p.get("optimization").foreach(s => optimization.add(s.durationMs / 1e3))
    p.get("planning").foreach(s => planning.add(s.durationMs / 1e3))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot: Map[String, Double] = Map(
    "plans.analysis_s" -> analysis.sum,
    "plans.optimization_s" -> optimization.sum,
    "plans.planning_s" -> planning.sum)
}
