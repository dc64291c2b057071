package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, get_json_object}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model.Schemas
import graft.sink.JdbcUpsert
import graft.source.Snapshot

/** Expected classification counts of one sync of one type. */
final case class Expect(inserts: Long, updates: Long, deletes: Long)

/** One resource type's served corpus in one or two versions (A, B). A and
  * B differ by 1% version bumps, 0.5% deletes and 0.5% new ids; both carry
  * the same 1% malformed resources (half without `id`, half with a
  * non-numeric `versionId`), which every sync must skip.
  */
final class TypeCorpus(val resourceType: String, val versions: Array[Array[String]],
                       val validKeys: Array[Array[String]], val malformedIdx: Set[Int],
                       val bumps: Int, val dropped: Int) {
  def malformed: Int = malformedIdx.size
  /** Version A as a completed sync leaves it in the target. */
  def syncedA: Iterator[String] =
    versions(0).iterator.zipWithIndex.collect { case (r, i) if !malformedIdx(i) => r }
  val table: String = Schemas.tableName(resourceType)
  def valid(v: Int): Int = validKeys(v).length
  /** Counts when version `to` is served to an empty target (`from` None)
    * or to a target holding the other version.
    */
  def expect(from: Option[Int], to: Int): Expect =
    if (from.isEmpty) Expect(valid(to), 0, 0) else Expect(dropped, bumps, dropped)
}

object Corpus {
  private val Codes = Array(
    ("2345-7", "Glucose [Mass/volume] in Serum or Plasma", "mg/dL"),
    ("718-7", "Hemoglobin [Mass/volume] in Blood", "g/dL"),
    ("2160-0", "Creatinine [Mass/volume] in Serum or Plasma", "mg/dL"),
    ("2951-2", "Sodium [Moles/volume] in Serum or Plasma", "mmol/L"),
    ("6298-4", "Potassium [Moles/volume] in Blood", "mmol/L"),
    ("2093-3", "Cholesterol [Mass/volume] in Serum or Plasma", "mg/dL"))

  /** A lab-Observation-shaped resource of about 600 bytes. `id` None drops
    * the field; `version` is written verbatim (it may be non-numeric).
    */
  def resource(t: String, id: Option[String], version: String, r: SplittableRandom): String = {
    val (code, display, unit) = Codes(r.nextInt(Codes.length))
    val day = f"20${20 + r.nextInt(5)}%02d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    val time = f"T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02dZ"
    val value = f"${r.nextInt(2000) / 10.0}%.1f"
    val sb = new StringBuilder(640)
    sb ++= s"""{"resourceType":"$t","""
    id.foreach(i => sb ++= s""""id":"$i",""")
    sb ++= s""""meta":{"versionId":"$version","lastUpdated":"$day${time}"},"status":"final","""
    sb ++= """"category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category","code":"laboratory","display":"Laboratory"}]}],"""
    sb ++= s""""code":{"coding":[{"system":"http://loinc.org","code":"$code","display":"$display"}],"text":"$display"},"""
    sb ++= s""""subject":{"reference":"Patient/pat-${r.nextInt(1000000)}"},"effectiveDateTime":"$day$time","""
    sb ++= s""""valueQuantity":{"value":$value,"unit":"$unit","system":"http://unitsofmeasure.org","code":"$unit"}}"""
    sb.result()
  }

  /** The key a sync must leave in the target for a valid resource. */
  def key(id: String, version: String): String = s"$id\u0000$version"

  def generate(seed: Long, perType: Int, twoVersions: Boolean): Seq[TypeCorpus] =
    Schemas.resourceTypes.zipWithIndex.map { case (t, ti) =>
      val r = new SplittableRandom(seed * 1000003L + ti)
      val prefix = t.take(3).toLowerCase
      val perm = shuffled(perType, r)
      val nBad = perType / 100
      val noId = perm.take(nBad / 2).toSet
      val badVer = perm.slice(nBad / 2, nBad).toSet
      val validIdx = perm.drop(nBad)
      val nBump = validIdx.length / 100
      val nDrop = validIdx.length / 200
      val bump = validIdx.take(nBump).toSet
      val drop = validIdx.slice(nBump, nBump + nDrop).toSet
      val ver = Array.fill(perType)(1L + r.nextInt(9))

      val a = Array.tabulate(perType) { i =>
        if (noId(i)) resource(t, None, ver(i).toString, r)
        else if (badVer(i)) resource(t, Some(s"$prefix-$i"), s"v${ver(i)}x", r)
        else resource(t, Some(s"$prefix-$i"), ver(i).toString, r)
      }
      val keysA = validIdx.sorted.map(i => key(s"$prefix-$i", ver(i).toString))
      val bad = perm.take(nBad).toSet
      if (!twoVersions) new TypeCorpus(t, Array(a), Array(keysA), bad, 0, 0)
      else {
        val kept = (0 until perType).filterNot(drop)
        val added = (perType until perType + nDrop)
        val b = (kept.map { i =>
          if (bump(i)) resource(t, Some(s"$prefix-$i"), (ver(i) + 1).toString, r) else a(i)
        } ++ added.map(i => resource(t, Some(s"$prefix-$i"), "1", r))).toArray
        val keysB = (validIdx.filterNot(drop).map(i =>
          key(s"$prefix-$i", (if (bump(i)) ver(i) + 1 else ver(i)).toString)) ++
          added.map(i => key(s"$prefix-$i", "1"))).sorted
        new TypeCorpus(t, Array(a, b), Array(keysA, keysB.toArray), bad, nBump, nDrop)
      }
    }

  private def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val x = a(i); a(i) = a(j); a(j) = x
      i -= 1
    }
    a
  }

}

/** In-JVM FHIR search server. Every page of every version is rendered to
  * bytes up front, so serving a page costs one copy. Answers the `_count=0`
  * probe and offset pages (`_count`, `_getpagesoffset`) of the active
  * version; counts requests and bytes served.
  */
final class PageServer(corpus: Seq[TypeCorpus], pageSize: Int, threads: Int) {
  private def bundle(total: Int, entries: Seq[String]): Array[Byte] =
    (s"""{"resourceType":"Bundle","type":"searchset","total":$total""" +
      (if (entries.isEmpty) "}" else entries.mkString(""","entry":[{"resource":""", """},{"resource":""", "}]}")))
      .getBytes(UTF_8)

  /** (type, version) → (probe body, page bodies by offset). */
  private val rendered: Map[(String, Int), (Array[Byte], Map[Long, Array[Byte]])] =
    corpus.flatMap { c =>
      c.versions.indices.map { v =>
        val rs = c.versions(v)
        val pages = rs.grouped(pageSize).zipWithIndex.map { case (page, i) =>
          i.toLong * pageSize -> bundle(rs.length, page.toSeq)
        }.toMap
        (c.resourceType, v) -> (bundle(rs.length, Nil), pages)
      }
    }.toMap

  @volatile var version = 0
  val requests = new AtomicLong
  val bytes = new AtomicLong

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-http"); t.setDaemon(true); t
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/fhir/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      val t = ex.getRequestURI.getPath.stripPrefix("/fhir/")
      val params = Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      val body = rendered.get((t, version)).flatMap { case (probe, pages) =>
        params.get("_count") match {
          case Some("0") => Some(probe)
          case Some(n) if n.toInt == pageSize =>
            pages.get(params.getOrElse("_getpagesoffset", "0").toLong)
          case _ => None
        }
      }
      body match {
        case Some(b) =>
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b)
          requests.incrementAndGet(); bytes.addAndGet(b.length)
        case None =>
          ex.sendResponseHeaders(404, -1)
      }
    } finally {
      ex.close()
      Trace.leaf("source.http", t0, System.nanoTime())
    }
  })
  server.start()

  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
}

/** Embedded in-memory Derby mirror target. */
object DerbyTarget {
  val url = "jdbc:derby:memory:perfbench;create=true"
  val user = "app"
  val password = ""

  /** Rows per statement. The sink's default, a 10,000-row literal INSERT,
    * overflows Derby's parser stack (StackOverflowError at a 1 MB thread
    * stack); 1,000 stays well below that. A standalone probe of ~600 B rows
    * inserted 17.5k rows/s at 100 rows per statement, 13.7k at 1,000 and
    * 9.2k at 2,000, so the pinned size is not the fastest Derby accepts.
    */
  val BatchSize = 1000

  // Derby's identity columns draw from a catalog-backed sequence whose
  // refill waits out the lock timeout under concurrent inserting
  // transactions, so writer transactions take this gate one at a time —
  // the same serialization the engine's Derby e2e suite uses.
  private[perfbench] val txGate = new ReentrantLock()

  val statements = new AtomicLong
  val rows = new AtomicLong
  val stmtChars = new AtomicLong
  val tx = new AtomicLong
  val dbNs = new AtomicLong

  def counters: Map[String, Double] = Map(
    "sink.db_s" -> dbNs.get / 1e9,
    "sink.statements" -> statements.get.toDouble,
    "sink.rows" -> rows.get.toDouble,
    "sink.stmt_mb" -> stmtChars.get / 1e6,
    "sink.tx" -> tx.get.toDouble)

  def writeOptions: Map[String, String] = Map(
    "url" -> url, "user" -> user, "password" -> password, "dialect" -> "ansi",
    "connector" -> classOf[BenchConnector].getName,
    "batchsize" -> BatchSize.toString)

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url, user, password)
    try f(c) finally c.close()
  }

  /** Empty mirror tables (dropped and re-created). */
  def reset(tables: Seq[String]): Unit = withConn { c =>
    val st = c.createStatement()
    tables.foreach { t =>
      try st.execute(s"DROP TABLE $t")
      catch { case _: java.sql.SQLException => () } // first reset: absent
      JdbcUpsert.Ansi.ddl(t).foreach(st.execute)
      // prime the identity sequence single-threaded
      st.execute(s"INSERT INTO $t (resource) VALUES ('{}')")
      st.execute(s"DELETE FROM $t")
    }
  }

  /** Set-up bulk load through a prepared batch (not the sink under test). */
  def preload(table: String, resources: Iterator[String]): Unit = withConn { c =>
    c.setAutoCommit(false)
    val ps = c.prepareStatement(s"INSERT INTO $table (resource) VALUES (?)")
    resources.grouped(BatchSize).foreach { chunk =>
      chunk.foreach { r => ps.setString(1, r); ps.addBatch() }
      ps.executeBatch()
      c.commit()
    }
  }

  def count(table: String): Long = withConn { c =>
    val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
    rs.next(); rs.getLong(1)
  }

  /** Digest of the (id, versionId) keys the target holds, read over plain
    * JDBC and parsed with Jackson — independent of the engine's snapshot.
    */
  def keyDigest(table: String): (Long, Long) = withConn { c =>
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rs = c.createStatement().executeQuery(s"SELECT resource FROM $table")
    val keys = Iterator.continually(rs.next()).takeWhile(identity).map { _ =>
      val n = mapper.readTree(rs.getString(1))
      Corpus.key(n.path("id").asText(), n.path("meta").path("versionId").asText())
    }
    Digest(keys)
  }

  /** Target snapshot through the engine's JDBC reader options and bounds
    * probe; only the PostgreSQL JSON pushdown (`->>`), which Derby lacks,
    * is replaced: the payload is read and the two fields extracted in
    * Spark, then finalized by the engine's `Snapshot.fromRaw`.
    */
  def snapshot(spark: SparkSession, partitions: Int)(table: String): DataFrame = {
    val (lo, hi) = Snapshot.jdbcBounds(url, user, password)(table)
    val opts = Snapshot.readerOptions(url, table, user, password, partitions, lo, hi) +
      ("dbtable" -> s"(SELECT id AS pk_id, resource FROM $table) AS ${table}_rows")
    Snapshot.fromRaw(
      spark.read.format("jdbc").options(opts).load()
        .select(col("pk_id"),
          get_json_object(col("resource"), "$.id").as("resource_id"),
          get_json_object(col("resource"), "$.meta.versionId").as("version_text")))
  }
}

/** The sink's connector over [[DerbyTarget]]: one connection per task,
  * writer transactions serialized by the target's gate, and every statement
  * counted and timed inside Derby's `execute`.
  */
class BenchConnector extends graft.sink.v2.UpsertConnector {
  override def connect(options: Map[String, String]): (String => Unit, () => Unit) = {
    import DerbyTarget._
    val c = java.sql.DriverManager.getConnection(options("url"),
      options.getOrElse("user", ""), options.getOrElse("password", ""))
    val st = c.createStatement()
    def timed(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      val t1 = System.nanoTime()
      dbNs.addAndGet(t1 - t0)
      Trace.leaf("sink.db", t0, t1)
    }
    val exec: String => Unit = {
      case "BEGIN" => txGate.lock(); c.setAutoCommit(false)
      case "COMMIT" => timed(c.commit()); c.setAutoCommit(true); tx.incrementAndGet(); ()
      case sql =>
        timed(st.execute(sql))
        statements.incrementAndGet()
        rows.addAndGet(math.max(0, st.getUpdateCount))
        stmtChars.addAndGet(sql.length)
        ()
    }
    (exec, () => {
      try { if (!c.getAutoCommit) c.rollback(); c.close() }
      finally if (txGate.isHeldByCurrentThread) txGate.unlock()
    })
  }
}
