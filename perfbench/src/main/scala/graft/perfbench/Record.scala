package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.util.QueryCaches

/** Creates the frozen `query_mix` list: runs every listed query once,
  * writes its output as parquet plus `oracle_sql.json` (the layout
  * `scripts/verify_local.py` checks) and a `queries.tsv` with each query's
  * row count and fingerprint. Only outputs that pass the oracle check
  * belong in the committed list.
  */
object Record {
  def run(spark: org.apache.spark.sql.SparkSession, o: Opts, outDir: String): Unit = {
    val dataDir = s"${o.benchDir}/${QueryWorkload.DataDir}"
    val names = QueryWorkload.derivedList(SparkEntry.queries.keys)
    Files.createDirectories(Paths.get(outDir))
    // the timestamp encoding the engine's Verify writes, which the oracle reads back
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val lines = names.map { n =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dataDir)
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      val (count, fp) = QueryWorkload.fingerprint(df.columns.toSeq, rows)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      QueryCaches.drain()
      System.err.println(f"[record] $n%-32s build=${(t1 - t0) / 1e9}%.3f action=${(t2 - t1) / 1e9}%.3f rows=$count")
      s"$n\tfp\t$count\t$fp"
    }
    Files.writeString(Paths.get(s"$outDir/queries.tsv"), lines.mkString("", "\n", "\n"))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) }))
  }
}
