package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision; non-finite values cannot occur in valid JSON. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Order-insensitive digest of a multiset of texts: (count, sum of the
  * first 64 bits of each text's SHA-256).
  */
object Digest {
  def apply(texts: Iterator[String]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    texts.foreach { t =>
      n += 1
      sum += java.nio.ByteBuffer.wrap(md.digest(t.getBytes("UTF-8")), 0, 8).getLong
    }
    (n, sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Command line of one benchmark process. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      workDir: String, benchDir: String, tiny: Boolean,
                      corrupt: Boolean, record: Option[String], commit: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      workDir = need("workdir"),
      benchDir = need("benchdir"),
      tiny = m.get("scale").contains("tiny"),
      corrupt = m.get("corrupt").contains("1"),
      record = m.get("record"),
      commit = m.getOrElse("commit", "unknown"))
  }
}

/** Outcome of one workload run: operation counts plus named metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-sample record, in order, for the run record. */
  val samples = mutable.ArrayBuffer.empty[String]

  /** Forget the warm-up's operations: only timed samples count. */
  def clearCounts(): Unit = { attempted = 0; failed = 0; failures.clear() }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; failures += what }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def json: String = Json.obj(Seq(
    "correct" -> (failed == 0).toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
}

object Host {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Driver heap in use after a forced full collection, in MB. Spark frees
    * unpersisted blocks and broadcasts asynchronously, once a collection has
    * cleared their references, so the reading is the second of two
    * collections a moment apart.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def jvmFlags: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** The engine's session factory at this host's core count; only
    * benchmark-private directories are added.
    */
  def session(workDir: String): SparkSession = {
    val s = graft.GraftSession.builder(appName = "perfbench", cores = cores)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$workDir/checkpoint")
    s
  }

  def calib(spark: SparkSession): Double = graft.Bench.calibrateOnce(spark)


}
