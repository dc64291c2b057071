package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.diff.Reconcile
import graft.runtime.SyncPipeline

/** `sync_cold` and `sync_steady`: full `SyncPipeline.runSync` samples over
  * the four resource types, served by [[PageServer]] and written to
  * [[DerbyTarget]].
  *
  *  - cold: every sample starts from empty tables (reset untimed), so every
  *    valid row is an insert.
  *  - steady: the target is preloaded at set-up and the served corpus
  *    alternates between versions A and B, so every sample applies the
  *    same ~2% of changes and no reload is needed between samples.
  */
object SyncWorkload {
  val PerType = 2500
  val PageSize = 250
  val TinyPerType = 1000
  val TinyPageSize = 100

  def run(spark: SparkSession, o: Opts, res: Result, meter: Meter, cold: Boolean): Unit = {
    val perType = if (o.tiny) TinyPerType else PerType
    val pageSize = if (o.tiny) TinyPageSize else PageSize
    val corpus = Corpus.generate(o.seed, perType, twoVersions = !cold)
    val tables = corpus.map(_.table)
    val digests = corpus.map(c => c.table -> c.validKeys.map(k => Digest(k.iterator))).toMap
    val server = new PageServer(corpus, pageSize, Host.cores)
    Clock.phase("corpus and pages")
    val writeOptions = DerbyTarget.writeOptions
    try {
      DerbyTarget.reset(tables)
      // what the target holds: None = empty, Some(v) = version v
      var held: Option[Int] = None
      if (!cold) {
        corpus.foreach(c => DerbyTarget.preload(c.table, c.syncedA))
        held = Some(0)
      }
      Clock.phase("target schema and preload")
      val snapshotFor = DerbyTarget.snapshot(spark, Host.cores) _
      def sourceFor(t: String): DataFrame =
        SyncPipeline.blazeV2Source(spark, server.baseUrl, pageSize)(t)

      /** Next served version; cold samples start from empty tables. */
      def prepare(): Int =
        if (cold) { DerbyTarget.reset(tables); held = None; 0 }
        else 1 - held.get

      /** Untimed target check: exactly the valid keys of version `v`. */
      def verifyTarget(v: Int): Unit = corpus.foreach { c =>
        val got = DerbyTarget.keyDigest(c.table)
        res.check(got == digests(c.table)(v),
          s"${c.resourceType}: target keys $got, expected ${digests(c.table)(v)}")
      }

      /** One full runSync; returns (wall, per-type walls). */
      def syncSample(): (Double, Seq[Double]) = {
        val v = prepare()
        server.version = v
        val expected = corpus.map(c => c.resourceType -> {
          val e = c.expect(held, v)
          if (o.corrupt && (c eq corpus.head)) e.copy(inserts = e.inserts + 1) else e
        }).toMap
        val marks = mutable.ArrayBuffer.empty[Long]
        val t0 = System.nanoTime()
        // a runSync that throws leaves the target unknown: the run aborts
        val results = Trace.span("runtime.sync") {
          SyncPipeline.runSync(spark,
            t => { marks += System.nanoTime(); Trace.span("source.for")(sourceFor(t)) },
            tbl => Trace.span("source.snapshot_for")(snapshotFor(tbl)),
            writeOptions,
            tbl => Trace.span("runtime.reconcile")(DerbyTarget.count(tbl)))
        }
        val t1 = System.nanoTime()
        held = Some(v)
        results.foreach { r =>
          res.attempted += 1
          val e = expected(r.resourceType)
          res.check(r.inserts == e.inserts && r.updates == e.updates &&
            r.deletes == e.deletes && r.reconciled,
            s"${r.resourceType}: got $r, expected $e")
        }
        verifyTarget(v)
        val perType = (marks.toSeq :+ t1).sliding(2).map(w => (w(1) - w(0)) / 1e9).toSeq
        ((t1 - t0) / 1e9, perType)
      }

      /** The layers of one sync timed in isolation, each over cached
        * inputs, ending with the sink write that moves the target to the
        * next version.
        */
      def isolatedLayers(): Map[String, Double] = {
        val v = prepare()
        server.version = v
        val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        def timed[A](name: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val a = Trace.span(name)(body)
          acc(name + "_s") += (System.nanoTime() - t0) / 1e9
          a
        }
        def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
        def cached(df: DataFrame): (DataFrame, Long) = {
          val p = df.persist(StorageLevel.MEMORY_ONLY)
          (p, p.count())
        }
        val db0 = DerbyTarget.counters
        corpus.foreach { c =>
          timed("source.scan")(noop(sourceFor(c.resourceType)))
          timed("source.snapshot")(noop(snapshotFor(c.table)))
          val (scan, scanned) = cached(sourceFor(c.resourceType))
          val (snap, _) = cached(snapshotFor(c.table))
          timed("diff.extract")(noop(SyncPipeline.sourceVersions(scan)))
          val (valid, nValid) = cached(SyncPipeline.sourceVersions(scan))
          acc("diff.invalid_rows") += (scanned - nValid).toDouble
          val classified = SyncPipeline.classifyWithPayloads(valid, snap).persist()
          timed("diff.classify")(classified.groupBy("action").count().collect())
          timed("sink.write") {
            classified.filter(col("action") =!= Reconcile.Noop)
              .select(col("action"), col("pk_id").cast("int").as("pk_id"), col("resource"))
              .write.format("graft-jdbc-upsert").options(writeOptions)
              .option("table", c.table).mode("append").save()
          }
          Seq(classified, valid, snap, scan).foreach(_.unpersist(blocking = true))
        }
        held = Some(v)
        val malformed = corpus.map(_.malformed).sum.toDouble
        res.attempted += 1
        res.check(acc("diff.invalid_rows") == malformed,
          s"invalid rows ${acc("diff.invalid_rows")}, generator made $malformed")
        verifyTarget(v)
        val db1 = DerbyTarget.counters
        acc.toMap ++ db1.map { case (k, x) => k -> (x - db0(k)) }
      }

      // Set-up ends with one untimed warm-up sync.
      syncSample()
      Clock.phase("warm-up sync")
      res.clearCounts()
      Clock.firstSample()

      val plain = mutable.ArrayBuffer.empty[(Double, Seq[Double])]
      val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
      var heapMb = 0.0
      var n = 0
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (n < 3 || elapsed < o.seconds || (o.trace && layerSamples.isEmpty)) {
        val tracing = o.trace && n % 2 == 1
        Trace.sample = n
        if (!tracing) {
          val s = syncSample()
          plain += s
          res.samples += Json.obj(Seq("sample" -> n.toString, "sync_s" -> Json.num(s._1),
            "per_type_s" -> s._2.map(Json.num).mkString("[", ",", "]")))
        } else {
          meter.attach(); Trace.on = true
          val req0 = server.requests.get; val bytes0 = server.bytes.get
          val m0 = meter.read()
          val (wall, _) = syncSample()
          val m1 = meter.read()
          val sync = Meter.layerMetrics(Meter.delta(m0, m1)) ++ Map(
            "source.requests" -> (server.requests.get - req0).toDouble,
            "source.mb_served" -> (server.bytes.get - bytes0) / 1e6,
            "runtime.sync_s" -> wall,
            "runtime.reconcile_s" -> Trace.all.filter(s => s.sample == n &&
              s.name == "runtime.reconcile").map(_.seconds).sum)
          val layers = isolatedLayers()
          Trace.on = false; meter.detach()
          layerSamples += sync ++ layers
          res.samples += Json.obj(Seq("sample" -> n.toString, "traced" -> "true",
            "sync_s" -> Json.num(wall)))
        }
        heapMb = math.max(heapMb, Host.retainedHeapMb())
        n += 1
      }
      val walls = plain.map(_._1).toSeq
      val ops = plain.flatMap(_._2).toSeq
      val pass = Stats.median(walls)
      res.put("pass_s", pass, "s")
      res.put("rate_per_s", corpus.map(_.valid(0)).sum / pass, "1/s")
      res.put("op_p50_s", Stats.median(ops), "s")
      res.put("heap_retained_mb", heapMb, "MB")
      if (o.trace) {
        layerSamples.flatMap(_.keys).distinct.foreach { k =>
          res.put(k, Stats.median(layerSamples.map(_.getOrElse(k, 0.0)).toSeq), Layers.unit(k))
        }
        res.put("trace.overhead_frac", res.metrics("runtime.sync_s")._1 / pass - 1, "fraction")
      }
    } finally server.stop()
  }
}
