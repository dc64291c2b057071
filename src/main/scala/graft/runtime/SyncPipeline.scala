package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.diff.Reconcile
import graft.model.Schemas
import graft.sink.v2.JdbcUpsertProvider
import graft.source.BlazeSource

/** The reference's core dataflow EP3 (`src/main.rs:176-300`) as one Spark
  * DAG per resource type:
  *
  *   source scan → extract(id, version) → validity filter
  *     → full-outer join vs target snapshot → classify
  *     → one `graft-jdbc-upsert` write (INSERT / UPDATE / DELETE)
  *     → count reconciliation
  *
  * vs. the reference: the target snapshot is never collected into driver
  * memory (its BTreeMap, `src/main.rs:49-75`, is the scalability ceiling —
  * SURVEY.md §4), writes are partition-parallel instead of single-writer,
  * and the whole classification happens in one distributed join.
  *
  * Execution-count discipline (the 100 TB concern): the classified relation
  * is computed ONCE and persisted (memory-and-disk, spillable), then read
  * twice — one counting job plus the one write job. Without the persist,
  * the write would re-run the source scan and the join from scratch, and
  * — worse — any count taken after the write would observe the target the
  * write just mutated and report garbage. All counts here are taken from
  * the persisted classification BEFORE the write executes.
  */
object SyncPipeline {

  final case class SyncResult(resourceType: String, inserts: Long,
                              updates: Long, deletes: Long,
                              sourceTotal: Long, targetAfter: Long) {
    /** O12 count reconciliation (reference `src/main.rs:288-297`). */
    def reconciled: Boolean = sourceTotal == targetAfter
  }

  /** Source relation → (resource, resource_id, version_id), valid rows
    * only (reference `src/main.rs:208-225`).
    */
  def sourceVersions(resources: DataFrame): DataFrame = {
    val (id, ver) = Reconcile.extractVersion(col("resource"))
    Reconcile.validOnly(
      resources.select(col("resource"), id.as("resource_id"), ver.as("version_id")))
  }

  /** One full-outer classification carrying both write payloads: the
    * source's raw `resource` (for INSERT/UPDATE) and the target's `pk_id`
    * (for UPDATE/DELETE). One row per resource_id on either side, with
    * `action ∈ {insert, update, delete, noop}` — the same CASE the
    * reference's probe loop implements (`src/main.rs:227-248, 278-282`).
    */
  def classifyWithPayloads(src: DataFrame, snapshot: DataFrame): DataFrame = {
    val s = src.select(col("resource_id").as("s_id"),
      col("version_id").as("src_version"), col("resource"))
    val t = snapshot.select(col("resource_id").as("t_id"),
      col("version_id").as("tgt_version"), col("pk_id"))
    s.join(t, col("s_id") === col("t_id"), "full_outer")
      .select(
        coalesce(col("s_id"), col("t_id")).as("resource_id"),
        col("resource"),
        col("pk_id"),
        when(col("t_id").isNull, Reconcile.Insert)
          .when(col("s_id").isNull, Reconcile.Delete)
          .when(col("src_version") =!= col("tgt_version"), Reconcile.Update)
          .otherwise(Reconcile.Noop)
          .as("action"))
  }

  /** One type's sync. `snapshot` is the target's (pk_id, resource_id,
    * version_id) projection (never the JSONB payload — §4; see
    * [[graft.source.Snapshot]] for the production JDBC reader);
    * `writeOptions` reaches the sink ([[JdbcUpsertProvider.write]]:
    * `url`/`dialect`/`connector`/`batchsize`); `targetCount` reads the
    * post-write count. The whole classified diff goes down in ONE write,
    * all three actions applied per partition inside one task transaction.
    */
  def syncOne(resourceType: String,
              resources: DataFrame,
              snapshot: DataFrame,
              writeOptions: Map[String, String],
              targetCount: String => Long): SyncResult = {
    val table = Schemas.tableName(resourceType)
    val classified = classifyWithPayloads(sourceVersions(resources), snapshot)
      .persist()
    try {
      // One aggregation job materializes the cache AND yields every count
      // the result needs — before the write mutates the live target.
      val byAction = classified.groupBy("action").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      val nIns = byAction(Reconcile.Insert)
      val nUpd = byAction(Reconcile.Update)
      val nDel = byAction(Reconcile.Delete)
      // every valid source row is exactly one of insert/update/noop
      val srcTotal = nIns + nUpd + byAction(Reconcile.Noop)

      JdbcUpsertProvider.write(classified, table, writeOptions)

      SyncResult(resourceType, inserts = nIns, updates = nUpd, deletes = nDel,
        sourceTotal = srcTotal, targetAfter = targetCount(table))
    } finally {
      classified.unpersist()
      ()
    }
  }

  /** All four types sequentially (reference `src/main.rs:319-326`; Spark
    * jobs are internally parallel, so sequential per-type is fine — each
    * sync saturates the cluster). `sourceFor`/`snapshotFor` are factories
    * so the scan itself is pluggable — see [[blazeV2Source]] (the scale
    * default) and [[blazeDriverSource]] (parity/fixture path). Each type
    * is one [[syncOne]]: one V2 write under Spark's commit/abort
    * protocol, e2e-proven on Derby (sync/heal/truncate/task-abort,
    * `DerbyE2ESpec`) and on the PG-semantics store (`SyncE2ESpec`).
    *
    * Keying contract: `sourceFor` receives the RESOURCE TYPE (it names a
    * search URL); `snapshotFor` and `targetCount` receive the mirror
    * TABLE name (lowercased — they name SQL identifiers). Passing the
    * capitalized type into [[graft.source.Snapshot.forJdbc]] previously
    * only worked because PostgreSQL case-folds unquoted identifiers; the
    * SyncE2ESpec's case-sensitive target store caught it.
    */
  def runSync(spark: SparkSession,
              sourceFor: String => DataFrame,
              snapshotFor: String => DataFrame,
              writeOptions: Map[String, String],
              targetCount: String => Long): Seq[SyncResult] =
    Schemas.resourceTypes.map { t =>
      syncOne(t, sourceFor(t), snapshotFor(Schemas.tableName(t)),
        writeOptions, targetCount)
    }

  /** Scale-path source factory: the DSv2 `blaze` format — one
    * InputPartition per page, fetch + Bundle parse on EXECUTORS
    * ([[graft.source.v2.BlazeTableProvider]]). This is the default for
    * production sync: the driver never holds page bodies.
    */
  def blazeV2Source(spark: SparkSession, baseUrl: String, pageSize: Int,
                    fetcherClass: String =
                      classOf[graft.source.v2.HttpPageFetcher].getName): String => DataFrame =
    t => spark.read.format("blaze")
      .option("baseUrl", baseUrl)
      .option("resourceType", t)
      .option("pageSize", pageSize.toString)
      .option("fetcher", fetcherClass)
      .load()

  /** Parity-path source factory: the driver-side next-link iterator
    * ([[BlazeSource.scan]]) — exact reference pagination semantics, driver
    * memory holds the fetched pages. For tests and strict-parity runs
    * against servers without offset paging; NOT the scale path.
    */
  def blazeDriverSource(spark: SparkSession, baseUrl: String, pageSize: Int,
                        fetch: String => String): String => DataFrame =
    t => BlazeSource.scan(spark, baseUrl, t, pageSize, fetch)
}
