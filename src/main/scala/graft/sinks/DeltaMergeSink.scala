package graft.sinks

import graft.model.{CdcSchema, ColumnPosition, SchemaChangeEvent, TableId}
import graft.operators.Changelog
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lakehouse `MERGE INTO` sink — the production swap-in for
  * [[ParquetUpsertSink]] (SURVEY.md §7.2 steps 9-10): the same [[CdcSink]]
  * contract maintained on a CATALOG table via MERGE + ALTER TABLE, the shape
  * both Delta and Iceberg accept. Mirrors the reference's DSQL sink split of
  * data path vs MetadataApplier (common/sink/DataSink.java:29-35) — DDL
  * becomes catalog `ALTER TABLE`, data becomes one MERGE per (batch, table).
  *
  * Like the Kafka seam ([[KafkaChangelogSink]]), the executor is
  * CLASSPATH-GUARDED: the delta-spark artifact ships separately, so without
  * it construction and YAML parsing still work and execution fails loudly —
  * or a test / embedded deployment injects `runner` to intercept every
  * statement (the MERGE source rides in a temp view the runner can read).
  *
  * Scale shape: the per-batch reduction is [[Changelog.lastImage]]'s single
  * map-side-combinable hash aggregation (MERGE requires unique source keys),
  * and the MERGE itself is the lakehouse engine's problem — Delta/Iceberg
  * prune files by the join keys and rewrite only the files that hold
  * matched rows. [[ParquetUpsertSink]] instead appends the reduced batch
  * as a delta run and merges on read until a compaction, so its commit
  * never reads state.
  */
final class DeltaMergeSink(
    database: String = "graft",
    runner: Option[(SparkSession, String) => Unit] = None) extends CdcSink {

  import graft.model._

  private def q(n: String): String = "`" + n.replace("`", "``") + "`"

  /** Catalog table for a pipeline table id: one configured database, table
    * name = the full identifier with dots flattened (a 3-part id nests
    * namespaces Spark catalogs don't).
    */
  def tableName(id: TableId): String = s"${q(database)}.${q(id.identifier.replace('.', '_'))}"

  private def session: SparkSession = SparkSession.getActiveSession
    .orElse(SparkSession.getDefaultSession)
    .getOrElse(throw new IllegalStateException("no SparkSession for delta sink"))

  private def exec(spark: SparkSession, sql: String): Unit = runner match {
    case Some(r) => r(spark, sql)
    case None =>
      require(DeltaMergeSink.deltaAvailable,
        "delta sink configured but delta-spark is not on the classpath; add " +
          "io.delta:delta-spark and spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension")
      spark.sql(sql)
      ()
  }

  /** Delta refuses DROP/RENAME COLUMN unless the table runs column-mapping
    * mode `name` (physical column ids decouple from display names; without
    * it a rename would orphan every data file). Tables WE create get the
    * property at birth; before a drop/rename we also issue the idempotent
    * protocol upgrade so tables created by someone else (no mapping,
    * reader/writer protocol too old) are brought up rather than erroring.
    */
  private def columnMappingUpgradeSql(id: TableId): String =
    s"ALTER TABLE ${tableName(id)} SET TBLPROPERTIES (" +
      "'delta.columnMapping.mode' = 'name', " +
      "'delta.minReaderVersion' = '2', 'delta.minWriterVersion' = '5')"

  /** DDL → catalog ALTER TABLE. Delta's column-position grammar has FIRST
    * and AFTER only; BEFORE(x) would need the preceding column's name, which
    * a metadata applier does not know — it lands at the end (column order in
    * a lakehouse table is cosmetic; the reference's own sink ignores
    * position for the same reason, DsqlSchemaMapper has no position DDL).
    * TRUNCATE is `DELETE FROM` (transactional, time-travel-able; Delta has
    * no TRUNCATE TABLE). DROP/RENAME COLUMN require column mapping — see
    * [[columnMappingUpgradeSql]].
    */
  override def applySchemaChange(e: SchemaChangeEvent): Unit = {
    val spark = session
    e match {
      case CreateTableEvent(id, s) =>
        val cols = s.struct.fields.map(f => s"${q(f.name)} ${f.dataType.sql}").mkString(", ")
        exec(spark, s"CREATE TABLE IF NOT EXISTS ${tableName(id)} ($cols) USING delta " +
          "TBLPROPERTIES ('delta.columnMapping.mode' = 'name')")
      case AddColumnEvent(id, n, dt, pos) =>
        val posSql = pos match {
          case ColumnPosition.First => " FIRST"
          case ColumnPosition.After(o) => s" AFTER ${q(o)}"
          case _ => "" // Last, and Before (no Delta grammar — see Scaladoc)
        }
        exec(spark, s"ALTER TABLE ${tableName(id)} ADD COLUMNS (${q(n)} ${dt.sql}$posSql)")
      case DropColumnEvent(id, n) =>
        exec(spark, columnMappingUpgradeSql(id))
        exec(spark, s"ALTER TABLE ${tableName(id)} DROP COLUMN ${q(n)}")
      case RenameColumnEvent(id, f, t) =>
        exec(spark, columnMappingUpgradeSql(id))
        exec(spark, s"ALTER TABLE ${tableName(id)} RENAME COLUMN ${q(f)} TO ${q(t)}")
      case AlterColumnTypeEvent(id, n, dt) =>
        exec(spark, s"ALTER TABLE ${tableName(id)} ALTER COLUMN ${q(n)} TYPE ${dt.sql}")
      case TruncateTableEvent(id) =>
        exec(spark, s"DELETE FROM ${tableName(id)}")
      case DropTableEvent(id) =>
        exec(spark, s"DROP TABLE IF EXISTS ${tableName(id)}")
    }
  }

  /** One MERGE per (batch, table): per-PK last images (delete markers kept)
    * drive DELETE / UPDATE / INSERT branches. Null-safe key equality (`<=>`)
    * so a null PK component addresses one state row, matching the upsert
    * writer. Replay-idempotent: re-merging the same reduced batch converges
    * (a DELETE of an absent key matches no branch).
    */
  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = {
    require(schema.primaryKeys.nonEmpty, s"MERGE sink requires primary keys on $id")
    val spark = changelog.sparkSession
    val reduced = Changelog.lastImage(
      changelog.select((schema.columnNames :+ Changelog.OpCol :+ Changelog.SeqCol)
        .map(org.apache.spark.sql.functions.col): _*),
      schema.primaryKeys)
    val view = "__graft_merge_" + id.identifier.replaceAll("[^A-Za-z0-9_]", "_")
    reduced.createOrReplaceTempView(view)
    val pks = schema.primaryKeys
    val dataCols = schema.columnNames
    val on = pks.map(p => s"t.${q(p)} <=> u.${q(p)}").mkString(" AND ")
    val nonKey = dataCols.filterNot(pks.contains)
    val updateBranch =
      if (nonKey.isEmpty) "" // pure-key table: nothing to update in place
      else s"WHEN MATCHED AND u.${q(Changelog.OpCol)} <> 'DELETE' THEN UPDATE SET " +
        nonKey.map(c => s"t.${q(c)} = u.${q(c)}").mkString(", ") + " "
    exec(spark,
      s"MERGE INTO ${tableName(id)} t USING $view u ON $on " +
        s"WHEN MATCHED AND u.${q(Changelog.OpCol)} = 'DELETE' THEN DELETE " +
        updateBranch +
        s"WHEN NOT MATCHED AND u.${q(Changelog.OpCol)} <> 'DELETE' THEN INSERT " +
        s"(${dataCols.map(q).mkString(", ")}) VALUES (${dataCols.map(c => s"u.${q(c)}").mkString(", ")})")
  }
}

object DeltaMergeSink {
  /** delta-spark ships separately from Spark core. */
  lazy val deltaAvailable: Boolean =
    try { Class.forName("org.apache.spark.sql.delta.catalog.DeltaCatalog"); true }
    catch { case _: ClassNotFoundException => false }
}
