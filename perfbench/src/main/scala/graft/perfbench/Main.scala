package graft.perfbench

import java.nio.file.{Files, Paths}

/** Benchmark process: one workload, one seed, one measured run. The last
  * line of stdout is the result object; the run record and the trace go to
  * files under `--workdir`'s parent.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(Paths.get(o.workDir))
    // embedded Derby writes its log and system files here, not in the cwd
    System.setProperty("derby.system.home", o.workDir)
    System.setProperty("derby.stream.error.file", s"${o.workDir}/derby.log")
    val spark = Host.session(o.workDir)
    Clock.phase("session")
    val res = new Result
    val meter = new Meter(spark)
    o.record match {
      case Some(dir) => Record.run(spark, o, dir); spark.stop(); return
      case None =>
    }
    try o.workload match {
      case "sync_cold" => SyncWorkload.run(spark, o, res, meter, cold = true)
      case "sync_steady" => SyncWorkload.run(spark, o, res, meter, cold = false)
      case "query_mix" => QueryWorkload.run(spark, o, res, meter)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.attempted += 1
        res.check(ok = false, s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    // after the samples: the probe's first call in a process compiles it,
    // so the second reading is the warm one
    val calib = Seq(Host.calib(spark), Host.calib(spark))
    res.put("setup_s", Clock.setupSeconds, "s")
    if (o.trace) {
      res.put("host.calib_s", calib.min, "s")
      res.put("check.fail_frac", res.failed.toDouble / math.max(1L, res.attempted), "fraction")
      // the layers this workload never calls did no work: report them as 0
      val idle = if (o.workload == "query_mix") Seq("source.", "diff.", "sink.", "runtime.")
        else Seq("ops.", "util.")
      Layers.all.foreach { case (k, u) =>
        if (idle.exists(k.startsWith) && !res.metrics.contains(k)) res.put(k, 0.0, u)
      }
    }
    val record = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "commit" -> Json.str(o.commit),
      "nproc" -> Host.cores.toString,
      "jvm_flags" -> Host.jvmFlags.map(Json.str).mkString("[", ",", "]"),
      "spark_conf" -> Json.obj(spark.conf.getAll.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }),
      "calib_s" -> calib.map(Json.num).mkString("[", ",", "]"),
      "setup_phases" -> Json.obj(Clock.phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> res.failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "samples" -> res.samples.mkString("[", ",", "]"),
      "result" -> res.json))
    val recDir = Paths.get(o.workDir).getParent.resolve("records")
    Files.createDirectories(recDir)
    val tag = s"${o.workload}-${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.writeString(recDir.resolve(s"$tag.json"), record)
    if (o.trace) Files.writeString(recDir.resolve(s"$tag.trace.json"), Trace.toJson)
    res.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    // stdout carries one kind of metric per run; the record above keeps both
    val printed = if (o.trace) Layers.all.map(_._1).toSet else Layers.endToEnd
    res.metrics.filterInPlace((k, _) => printed(k))
    spark.stop()
    Console.out.println(res.json)
    Console.out.flush()
  }
}

object Clock {
  @volatile private var firstMs = 0L
  /** Set-up phases: (name, seconds since JVM start at its end). */
  val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]

  def phase(name: String): Unit = {
    val at = (System.currentTimeMillis() - Host.jvmStartMs) / 1e3
    phases += name -> at
    System.err.println(f"[perfbench] $at%7.2f s  $name")
  }

  /** Marks the start of the first timed sample; set-up ends here. */
  def firstSample(): Unit = { phase("set-up done"); firstMs = System.currentTimeMillis() }
  def setupSeconds: Double =
    ((if (firstMs > 0) firstMs else System.currentTimeMillis()) - Host.jvmStartMs) / 1e3
}

object Layers {
  /** End-to-end metrics, printed by untraced runs. */
  val endToEnd: Set[String] = Set("setup_s", "pass_s", "rate_per_s", "op_p50_s", "heap_retained_mb")

  /** Every per-layer metric with its unit, printed by traced runs. */
  val all: Seq[(String, String)] = Seq(
    "source.scan_s" -> "s", "source.requests" -> "count", "source.mb_served" -> "MB",
    "source.snapshot_s" -> "s",
    "diff.extract_s" -> "s", "diff.classify_s" -> "s", "diff.invalid_rows" -> "count",
    "sink.write_s" -> "s", "sink.db_s" -> "s", "sink.statements" -> "count",
    "sink.rows" -> "count", "sink.stmt_mb" -> "MB", "sink.tx" -> "count",
    "runtime.reconcile_s" -> "s", "runtime.sync_s" -> "s", "trace.overhead_frac" -> "fraction",
    "ops.build_s" -> "s", "ops.build_jobs" -> "count", "ops.action_s" -> "s",
    "ops.action_jobs" -> "count",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s", "plans.planning_s" -> "s",
    "util.drain_s" -> "s", "util.cached_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.core_util" -> "fraction",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "host.calib_s" -> "s", "check.fail_frac" -> "fraction")
  private val units = all.toMap
  def unit(name: String): String = units(name)
}
