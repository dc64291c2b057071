package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.util.QueryCaches

/** `query_mix`: the frozen query list, one query at a time, each as
  * build (the query function) → action (`collect`) → `QueryCaches.drain()`,
  * in whole passes over the list in a seeded order. No sync layer runs.
  */
object QueryWorkload {

  /** One frozen query: `check` is `fp` (fingerprint must match) or `rows`
    * (row count only, for outputs whose values do not repeat run to run).
    */
  final case class Spec(name: String, check: String, rows: Long, fp: String)

  val ListFile = "queries.tsv"
  val DataDir = "data/sf0.01"

  /** Build-heavy iterative kernel added to the sampled list. */
  val Kernels = Seq("q322_bpe_train")

  /** Sampling stride over the declared queries: a warm pass of the list
    * must fit one run's measuring window.
    */
  val Stride = 60

  def leadingInt(name: String): Int =
    name.drop(1).takeWhile(_.isDigit) match { case "" => Int.MaxValue; case d => d.toInt }

  /** Every [[Stride]]th declared query by (leading integer, name) from
    * `q01_scan`, plus [[Kernels]]. Used only to create the frozen list file.
    */
  def derivedList(names: Iterable[String]): Seq[String] = {
    val sorted = names.toSeq.sortBy(n => (leadingInt(n), n))
    val sampled = sorted.drop(sorted.indexOf("q01_scan")).grouped(Stride).map(_.head).toSeq
    sampled ++ Kernels.filterNot(sampled.contains)
  }

  def load(path: String): Seq[Spec] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isBlank || l.startsWith("#"))
      .map(_.split("\t") match {
        case Array(n, c, r, f) => Spec(n, c, r.toLong, f)
        case other => throw new IllegalArgumentException(s"bad line in $path: ${other.mkString(" ")}")
      })

  // ---- fingerprint: row count + order-insensitive hash of canonical rows

  /** Canonical text of one value; doubles at 9 significant digits. */
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case bd: BigDecimal => bd.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  /** (rows, hash): the [[Digest]] of each row's canonical text, columns in
    * name order, so row order does not matter.
    */
  def fingerprint(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    val (n, sum) = Digest(rows.iterator.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")))
    (n, f"$sum%016x")
  }

  // ---- the workload

  final case class Exec(name: String, wall: Double, ok: Boolean)

  def run(spark: SparkSession, o: Opts, res: Result, meter: Meter): Unit = {
    val all = load(s"${o.benchDir}/$ListFile")
    val specs = if (o.tiny) all.take(3) else all
    val dataDir = s"${o.benchDir}/$DataDir"
    val queries = SparkEntry.queries
    val expected = specs.map { s =>
      // a deliberately wrong expectation for the self-test
      if (o.corrupt && (s eq specs.head)) s.copy(rows = s.rows + 1, fp = "0" * 16) else s
    }
    val rnd = new scala.util.Random(o.seed)

    def once(s: Spec, traced: Boolean, layers: mutable.Map[String, Double]): Exec = {
      res.attempted += 1
      val m0 = if (traced) meter.read() else Map.empty[String, Double]
      val t0 = System.nanoTime()
      var t1 = t0
      var rows: Array[Row] = null
      var columns: Seq[String] = Nil
      var m1 = m0
      val ok = try {
        val build = queries.getOrElse(s.name,
          throw new NoSuchElementException(s"query ${s.name} is not declared"))
        val df: DataFrame = Trace.span("ops.build")(build(spark, dataDir))
        t1 = System.nanoTime()
        if (traced) m1 = meter.read()
        columns = df.columns.toSeq
        rows = Trace.span("ops.action")(df.collect())
        true
      } catch {
        case e: Throwable =>
          res.check(ok = false, s"${s.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
      val t2 = System.nanoTime()
      Trace.span("util.drain")(QueryCaches.drain())
      val t3 = System.nanoTime()
      if (traced) {
        val m2 = meter.read()
        def add(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v
        add("ops.build_s", (t1 - t0) / 1e9)
        add("ops.action_s", (t2 - t1) / 1e9)
        add("util.drain_s", (t3 - t2) / 1e9)
        add("ops.build_jobs", m1("spark.jobs") - m0("spark.jobs"))
        add("ops.action_jobs", m2("spark.jobs") - m1("spark.jobs"))
        add("util.cached_mb",
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)
        Meter.layerMetrics(Meter.delta(m0, m2)).foreach { case (k, v) =>
          if (k != "spark.core_util") add(k, v)
        }
      }
      val checked = ok && {
        val (n, fp) = fingerprint(columns, rows)
        val e = expected.find(_.name == s.name).get
        val good = n == e.rows && (e.check == "rows" || fp == e.fp)
        res.check(good, s"${s.name}: got rows=$n fp=$fp, expected rows=${e.rows} fp=${e.fp}")
        good
      }
      Exec(s.name, (t3 - t0) / 1e9, checked)
    }

    // Set-up: one untimed warm-up pass fills the JIT and codegen caches.
    rnd.shuffle(specs).foreach(s => once(s, traced = false, mutable.Map.empty))
    Clock.phase("warm-up pass")
    res.clearCounts()
    Clock.firstSample()

    // Passes over the list, each in a fresh seeded order. The first pass
    // always completes, so every query has a sample; later passes stop when
    // the measuring window ends. While tracing, the three first passes
    // complete and only the middle one is traced: the untraced passes on
    // either side of it give the trace overhead, with JIT warm-up that
    // continues across passes falling on both sides.
    val wall = mutable.ArrayBuffer.empty[Exec]
    val traced = mutable.ArrayBuffer.empty[Exec]
    val layers = mutable.Map.empty[String, Double]
    val minPasses = if (o.trace) 3 else 1
    var passes = 0
    var heapMb = 0.0
    val t0 = System.nanoTime()
    def windowOver = (System.nanoTime() - t0) / 1e9 >= o.seconds
    while (passes < minPasses || !windowOver) {
      val tracing = o.trace && passes == 1
      if (tracing) { meter.attach(); Trace.on = true }
      Trace.sample = passes
      val complete = passes < minPasses
      val execs = rnd.shuffle(specs).iterator
        .takeWhile(_ => complete || !windowOver)
        .map(s => once(s, tracing, layers)).toSeq
      if (tracing) { Trace.on = false; meter.detach(); traced ++= execs } else wall ++= execs
      heapMb = math.max(heapMb, Host.retainedHeapMb())
      res.samples += Json.obj(Seq("pass" -> passes.toString, "traced" -> tracing.toString,
        "wall_s" -> Json.num(execs.map(_.wall).sum),
        "queries" -> Json.obj(execs.map(e => e.name -> Json.num(e.wall))),
        "failed" -> execs.count(!_.ok).toString))
      passes += 1
    }
    val byQuery = wall.groupBy(_.name).view.mapValues(xs => Stats.median(xs.map(_.wall).toSeq)).toMap
    val pass = byQuery.values.sum[Double]
    res.put("pass_s", pass, "s")
    res.put("rate_per_s", specs.size / pass, "1/s")
    res.put("op_p50_s", Stats.median(wall.map(_.wall).toSeq), "s")
    res.put("heap_retained_mb", heapMb, "MB")
    if (o.trace) {
      // per-layer values are those of the one traced pass over the list
      layers.foreach { case (k, v) => res.put(k, v, Layers.unit(k)) }
      val tracedWall = traced.map(_.wall).sum
      res.put("spark.core_util",
        layers.getOrElse("spark.task_s", 0.0) / (tracedWall * Host.cores), "fraction")
      res.put("trace.overhead_frac", tracedWall / byQuery.values.sum[Double] - 1, "fraction")
    }
  }
}
