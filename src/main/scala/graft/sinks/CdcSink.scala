package graft.sinks

import graft.model.{CdcSchema, SchemaChangeEvent, TableId}
import graft.operators.Changelog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import scala.concurrent.Await

/** Sink SPI — the Spark shape of the reference's `DataSink =
  * EventSinkProvider + MetadataApplier` (common/sink/DataSink.java:29-35,
  * MetadataApplier.java:33-50): a data path (`write`) plus a metadata path
  * (`applySchemaChange`). In the micro-batch design `write` is called once
  * per (batch, table) from `foreachBatch`, AFTER any schema changes of that
  * batch were applied — the ordering the reference enforces with its
  * FlushEvent protocol falls out of the batch boundary for free.
  */
/** Provenance of one `write` call within a streaming micro-batch: the
  * `foreachBatch` batch id plus the route leg (`"src→out"`). An N→1 route
  * writes the same sink table once per SOURCE within a batch, so the pair —
  * not the batch id alone — uniquely identifies the invocation; decorators
  * ([[graft.pipeline.QuantileMonitor.MonitorSink]]) key crash-replay
  * dedup on it.
  */
final case class BatchCtx(batchId: Long, origin: String)

trait CdcSink {
  /** Apply DDL to the sink (called on the driver, between batches). */
  def applySchemaChange(e: SchemaChangeEvent): Unit = ()

  /** Write one table's changelog slice (envelope columns `__op`/`__seq`
    * + payload aligned with `schema`).
    */
  def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit

  /** Batch-aware write: streaming callers pass their micro-batch provenance
    * so decorators can deduplicate crash-replayed batches; the default
    * ignores it — plain sinks are already idempotent per key and need no
    * replay awareness.
    */
  def writeBatch(id: TableId, changelog: DataFrame, schema: CdcSchema,
                 ctx: Option[BatchCtx]): Unit = write(id, changelog, schema)
}

/** Driver-side in-memory sink over [[ValuesDatabase]] — the test oracle sink
  * (reference: ValuesDataSink). Collects each batch; only for tests.
  */
final class ValuesSink(val db: ValuesDatabase) extends CdcSink {
  import graft.model._

  override def applySchemaChange(e: SchemaChangeEvent): Unit = db.apply(e)

  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = {
    val cols = schema.columnNames
    // per-key ordering within the batch: sort by seq before applying
    val rows = changelog.orderBy(col(Changelog.SeqCol)).collect()
    // the pipeline writes tables concurrently; the in-memory db is one map
    db.synchronized {
      rows.foreach { r =>
        val payload = cols.map(c => r.getAs[Any](c))
        val op = r.getAs[String](Changelog.OpCol)
        db.apply(DataChangeEvent(id, Op.of(op),
          before = if (op == "DELETE" || op == "UPDATE") Some(payload) else None,
          after = if (op == "DELETE") None else Some(payload)))
      }
    }
  }
}

/** Parquet-backed upsert sink: one log-structured table per sink table, on
  * the design of the LSM-tree (O'Neil et al., 1996). A write reduces its
  * batch to the last image per primary key, delete markers included, and
  * appends it as a *delta run* without reading state. A read merges the
  * runs per key, the newest run winning. A compaction folds every run into
  * a fresh *base run*.
  *
  * This is the lakehouse `MERGE INTO` shape of the reference's DSQL sink
  * (SURVEY.md §2.2 "Iceberg/Delta: MERGE INTO in foreachBatch") without a
  * table format, merged on read instead of on write. Idempotent per batch:
  * a replayed batch appends the same last images again and the newest run
  * wins, so at-least-once delivery becomes effectively-once.
  *
  * Layout: rows are split into `pmod(xxhash64(keys), modulus)` buckets.
  * Each bucket has at most one base run and an ordered list of delta runs;
  * a run is the dir `<table>/v<N>/__bucket=<b>` of the commit N that wrote
  * it. Delta rows also carry their op (`DELETE` marks a deleted key) and
  * their run's version; base rows carry neither. The default
  * (`buckets = 0`) is a one-bucket layout. [[ParquetUpsertSink.AutoBuckets]]
  * derives the modulus from a row count, one bucket per
  * [[ParquetUpsertSink.RowsPerBucketConf]] rows (guide §6 scale-adaptive
  * file sizing): from the first batch, then again at every compaction from
  * the row counts the manifest records, so a table created small grows its
  * layout as it grows.
  *
  * Cost of a write:
  *  - An append is one shuffle of the batch by bucket, which the per-key
  *    reduction reuses, and writes at most one row per key of the batch.
  *  - A write compacts when the recorded delta rows have reached the base
  *    rows, or when the batch's columns differ from the state's. The
  *    compaction is table-wide and one shuffle over base, deltas and batch.
  *    The rows it rewrites were paid for by as many appended rows, so the
  *    amortized write cost stays O(batch). Every DDL rewrite also compacts.
  * A read of a table without delta runs is a plain scan; with delta runs it
  * pays one shuffle by key.
  *
  * Schema evolution: DDL rewrites state eagerly ([[applySchemaChange]]).
  * A compaction ALSO coerces state (cast + null-pad) to the batch's columns,
  * as a belt-and-braces for state that lags after a crash between DDL and
  * rewrite.
  *
  * Commit protocol — one path for every append, compaction, DDL rewrite and
  * truncate, on the snapshot-log design of Delta Lake (Armbrust et al.,
  * VLDB 2020):
  *  1. Resolve the newest complete manifest `<table>/_manifest/<N>.json`. It
  *     records the layout (modulus, hash-key columns, whether the modulus
  *     was derived), the state schema, the runs of each bucket, and the row
  *     counts of the base and of the deltas.
  *  2. Spark writes the new runs into the fresh dir `<table>/v<N+1>/` and
  *     counts their rows on the way (`Dataset.observe`, no extra job). No
  *     live dir is touched, so a failed job or a dead process leaves the
  *     previous state intact.
  *  3. Publish manifest N+1 with one `create`. A manifest that does not parse
  *     was torn by a crash mid-write: readers skip it for the previous one,
  *     and the next commit overwrites it.
  *  4. Delete every version dir and older manifest that manifest N+1 does
  *     not reference, leftovers of crashed commits included. An append
  *     references every run its predecessor did, a compaction or truncate
  *     none of them, so no version dir is ever referenced only in part.
  * A reader sees the pre-batch state until step 3 completes and the
  * post-batch state after it; there is no recovery step. Once a table has
  * rows, its layout comes from the manifest, never from the constructor.
  */
class ParquetUpsertSink(rootDir: String, buckets: Int = 0) extends CdcSink {
  import ParquetUpsertSink._

  // concurrent per-table writes are fine; same-table writes must serialize
  // (N→1 routes can hit one sink table from several sources in a batch)
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def tablePath(id: TableId): String =
    s"$rootDir/${Seq(id.namespace, id.schemaName, id.tableName).filter(_.nonEmpty).mkString("__")}"

  private def locked[T](id: TableId)(f: => T): T =
    tableLocks.computeIfAbsent(tablePath(id), _ => new Object).synchronized(f)

  /** Every filesystem call of the commit goes through this Hadoop
    * [[FileSystem]], so the sink works on any Hadoop-compatible store.
    */
  protected def hfs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def resolve(spark: SparkSession, id: TableId): Table = {
    val path = tablePath(id)
    val fs = hfs(spark, path)
    val versions =
      try fs.listStatus(new Path(path, ManifestDir)).toSeq.map(_.getPath.getName)
        .collect { case ManifestFile(v) => v.toLong }.sorted(Ordering[Long].reverse)
      catch { case _: java.io.FileNotFoundException => Nil }
    val cur = versions.iterator.map(parse(fs, path, _)).collectFirst { case Some(m) => m }
    if (cur.isEmpty) refuseOldFormat(fs, path)
    Table(spark, fs, path, cur, versions)
  }

  private def manifestPath(path: String, v: Long) = new Path(s"$path/$ManifestDir/$v.json")

  private def bucketDir(path: String, b: Int, v: Long) = s"$path/v$v/$BucketCol=$b"

  /** Manifest `v`, or None when a crash tore it mid-write. */
  private def parse(fs: FileSystem, path: String, v: Long): Option[Manifest] = {
    val in = fs.open(manifestPath(path, v))
    try decode(v, in.readAllBytes())
    catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException |
           _: org.apache.hadoop.fs.ChecksumException => None
    } finally in.close()
  }

  /** A table dir without a manifest is absent, a crashed first commit (only
    * `v<N>` dirs), or state of the pre-manifest sink format — refused, not
    * migrated.
    */
  private def refuseOldFormat(fs: FileSystem, path: String): Unit = {
    val names =
      try fs.listStatus(new Path(path)).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Nil }
    val foreign = names.filterNot(n => n == ManifestDir || VersionDir.matches(n))
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"upsert-sink state at $path has no manifest (found ${foreign.take(3).mkString(", ")}): " +
        "it was written by an older sink format, which is not migrated; recreate the state dir")
  }

  /** Every run of `m` in one scan, read as `schema`: each bucket dir is its
    * own leaf path (no partition discovery, so dirs of different versions
    * mix), and a column a run lacks reads as null.
    */
  private def scan(t: Table, m: Manifest, schema: StructType): DataFrame = {
    val dirs = m.runs.map { case (b, v) => bucketDir(t.path, b, v) }.sorted
    if (dirs.isEmpty) t.spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else t.spark.read.schema(schema).parquet(dirs: _*)
  }

  /** The rows of every run of `m` as a changelog: a base row is an INSERT,
    * and `__seq` orders the runs oldest first, `Long.MinValue` plus the run's
    * version (0 for the base), below every batch row — a batch's source
    * offsets never reach that far down (the copy-on-write merge stamped
    * state `Long.MinValue` on the same assumption).
    */
  private def stateRows(t: Table, m: Manifest): DataFrame =
    scan(t, m, m.schema.add(Changelog.OpCol, StringType).add(RunCol, LongType))
      .withColumn(Changelog.OpCol, coalesce(col(Changelog.OpCol), lit("INSERT")))
      .withColumn(Changelog.SeqCol, lit(Long.MinValue) + coalesce(col(RunCol), lit(0L)))
      .drop(RunCol)

  /** The one commit path: Spark writes `data` (bucket column included) into
    * the fresh dir `v<N+1>` and counts its rows, `publish` turns the
    * buckets written and that count into manifest N+1, which is published,
    * then everything it does not reference is deleted.
    */
  private def commit(t: Table, data: Option[DataFrame])
                    (publish: (Seq[Int], Long) => Manifest): Unit = {
    val dir = new Path(s"${t.path}/v${t.nextVersion}")
    val (written, rows) = data.fold((Seq.empty[Int], 0L)) { df =>
      val counted = Observation()
      // static overwrite empties the dir first: bucket dirs a crashed commit
      // left under this version must not be listed as written below
      df.observe(counted, count(lit(1)).as("rows"))
        .write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy(BucketCol).parquet(dir.toString)
      (t.fs.listStatus(dir).toSeq.map(_.getPath.getName).collect { case BucketDir(b) => b.toInt },
        Await.result(counted.future, ObservedRowsTimeout).getLong(0))
    }
    val next = publish(written, rows)
    val out = t.fs.create(manifestPath(t.path, next.version), true)
    try out.write(encode(next)) finally out.close()
    collectGarbage(t, next)
  }

  /** Delete the version dirs `kept` does not reference (replaced, or left by
    * crashed commits), then every other manifest. A crash in between leaves
    * only dirs that the next commit's manifest does not reference either.
    */
  private def collectGarbage(t: Table, kept: Manifest): Unit = {
    val referenced = kept.runs.map(_._2).toSet
    t.fs.listStatus(new Path(t.path)).foreach { s =>
      s.getPath.getName match {
        case VersionDir(v) if !referenced(v.toLong) => t.fs.delete(s.getPath, true)
        case _ => ()
      }
    }
    t.versions.filter(_ != kept.version).foreach(v => t.fs.delete(manifestPath(t.path, v), false))
  }

  private def withBucket(df: DataFrame, keys: Seq[String], m: Int): DataFrame =
    df.withColumn(BucketCol, pmod(xxhash64(keys.map(col): _*), lit(m.toLong)).cast("int"))

  /** Bucket count for `rows` rows under [[AutoBuckets]]. */
  private def derivedBuckets(spark: SparkSession, rows: Long): Int = {
    val target = spark.conf.getOption(RowsPerBucketConf).map(_.toLong).getOrElse(524288L)
    math.max(1L, math.min(MaxDerivedBuckets.toLong, (rows + target - 1) / target)).toInt
  }

  /** The modulus a compaction of `m` writes: a derived one is derived anew
    * from the recorded rows (an upper bound of the live rows: deltas count
    * updates and delete markers too), a constant one kept.
    */
  private def compactedBuckets(spark: SparkSession, m: Manifest): Int =
    if (m.derived) derivedBuckets(spark, m.baseRows + m.deltaRows) else m.modulus

  /** Fold changelog `rows` into a fresh base of `modulus` buckets, table-wide
    * and in one shuffle: rows are exchanged by their bucket, and the per-key
    * merge of [[Changelog.materialize]] reuses that exchange.
    */
  private def compact(t: Table, rows: DataFrame, keys: Seq[String], modulus: Int,
                      derived: Boolean): Unit = {
    val merged = Changelog.materialize(
      withBucket(rows, keys, modulus).repartition(modulus, col(BucketCol)), keys :+ BucketCol)
    val v = t.nextVersion
    commit(t, Some(merged)) { (written, n) =>
      Manifest(v, modulus, keys, derived, StructType(merged.schema.filterNot(_.name == BucketCol)),
        written.map(_ -> Runs(Some(v), Nil)).toMap, baseRows = n, deltaRows = 0L)
    }
  }

  /** Append the batch as delta run `v<N+1>` of every bucket it touches: one
    * shuffle by bucket, which [[Changelog.lastImage]]'s per-key reduction
    * reuses. State is not read.
    */
  private def append(t: Table, m: Manifest, incoming: DataFrame): Unit = {
    val width = math.min(m.modulus, t.spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val v = t.nextVersion
    val delta = Changelog.lastImage(
      withBucket(incoming, m.keys, m.modulus).repartition(width, col(BucketCol)), m.keys :+ BucketCol)
      .withColumn(RunCol, lit(v))
    commit(t, Some(delta)) { (written, n) =>
      m.copy(version = v, deltaRows = m.deltaRows + n, live = m.live ++ written.map { b =>
        val r = m.live.getOrElse(b, Runs(None, Nil))
        b -> r.copy(deltas = r.deltas :+ v)
      })
    }
  }

  /** Coerce state rows (possibly of an older schema) to the batch's columns. */
  private def coerce(state: DataFrame, payload: StructType): DataFrame = {
    val present = state.columns.toSet
    state.select(payload.fields.toSeq.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } :+ col(Changelog.OpCol) :+ col(Changelog.SeqCol): _*)
  }

  /** Append the batch as delta runs, or compact when the deltas have caught
    * up with the base or the batch's columns differ from the state's; a
    * table without rows is compacted from the batch alone.
    */
  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = locked(id) {
    require(schema.primaryKeys.nonEmpty, s"upsert sink requires primary keys on $id")
    val keys = schema.primaryKeys
    val t = resolve(changelog.sparkSession, id)
    val live = t.cur.filter(_.live.nonEmpty) // an empty table derives its layout anew
    live.foreach(m => require(m.keys == keys,
      s"state at ${t.path} is bucketed on (${m.keys.mkString(", ")}) but the batch's primary " +
        s"key is (${keys.mkString(", ")}); drop and recreate the table to change its key"))
    val incoming = changelog.select(
      schema.columnNames.map(col) :+ col(Changelog.OpCol) :+ col(Changelog.SeqCol): _*)
    val payload = StructType(incoming.schema.take(schema.columnNames.size))
    live match {
      case Some(m) if m.deltaRows < m.baseRows && sameColumns(m.schema, payload) =>
        append(t, m, incoming)
      case Some(m) =>
        compact(t, coerce(stateRows(t, m), payload).unionByName(incoming),
          keys, compactedBuckets(t.spark, m), m.derived)
      case None if buckets == AutoBuckets =>
        // the deriving count is the input's second consumer
        val inc = incoming.cache()
        try compact(t, inc, keys, derivedBuckets(t.spark, inc.count()), derived = true)
        finally { inc.unpersist(); () }
      case None => compact(t, incoming, keys, math.max(buckets, 1), derived = false)
    }
  }

  /** DDL applies EAGERLY to on-disk state (the reference's MetadataApplier
    * runs its ALTER TABLE before the data resumes): lazy coercion alone
    * would leave runs a compaction has not reached under the OLD shape. A
    * rewrite per DDL event is O(state), but DDL is rare by construction; the
    * Delta/Iceberg swap-in does the same change as a metadata-only commit.
    * Rename never arrives here — the routed-schema diff normalizes it to
    * add+drop ([[graft.operators.SchemaDerivator.diff]], reference
    * SchemaDerivator.java:154-296) — but is handled for direct SPI callers.
    * Each rewrite is idempotent (guarded on the current state shape), so a
    * crash-replayed batch re-applying its in-band DDL converges.
    */
  override def applySchemaChange(e: SchemaChangeEvent): Unit = {
    import graft.model._
    e match {
      case CreateTableEvent(_, _) => () // state materializes on first write
      case AddColumnEvent(id, n, dt, _) =>
        rewriteState(id)(df => if (df.columns.contains(n)) df
                               else df.withColumn(n, lit(null).cast(dt)))
      case DropColumnEvent(id, n) => rewriteState(id)(_.drop(n))
      case RenameColumnEvent(id, f, t) =>
        rewriteState(id, k => if (k == f) t else k)(_.withColumnRenamed(f, t))
      case AlterColumnTypeEvent(id, n, dt) =>
        rewriteState(id)(df => if (df.columns.contains(n)) df.withColumn(n, col(n).cast(dt))
                               else df)
      case TruncateTableEvent(id) => truncate(id, drop = false)
      case DropTableEvent(id) => truncate(id, drop = true)
    }
  }

  private def activeSession: SparkSession = SparkSession.getActiveSession
    .orElse(SparkSession.getDefaultSession)
    .getOrElse(throw new IllegalStateException("no SparkSession for sink DDL"))

  /** Rewrite every run through `fn` as one compaction, re-deriving each
    * row's bucket from the recorded hash-key columns (`renameKey` follows a
    * column rename): a widened key type hashes differently, so the old
    * bucket of a row is not its bucket any more. `fn` sees the runs'
    * rows before the per-key merge, which is row-wise and so commutes with
    * it. An unchanged shape is a replayed DDL, which only finishes its
    * predecessor's cleanup.
    */
  private def rewriteState(id: TableId, renameKey: String => String = identity)
                          (fn: DataFrame => DataFrame): Unit = locked(id) {
    val t = resolve(activeSession, id)
    t.cur.foreach { m =>
      val state = stateRows(t, m)
      val next = fn(state)
      if (next.schema == state.schema) collectGarbage(t, m)
      else compact(t, next, m.keys.map(renameKey), compactedBuckets(t.spark, m), m.derived)
    }
  }

  /** Truncate is a commit that publishes no run; drop then deletes the
    * table dir, which by then holds nothing but that empty manifest.
    */
  private def truncate(id: TableId, drop: Boolean): Unit = locked(id) {
    val t = resolve(activeSession, id)
    t.cur.foreach(m => commit(t, None)((_, _) =>
      m.copy(version = t.nextVersion, live = Map.empty, baseRows = 0L, deltaRows = 0L)))
    if (drop) { t.fs.delete(new Path(t.path), true); () }
  }

  /** The table's newest complete manifest (None before its first commit). */
  private[graft] def manifest(spark: SparkSession, id: TableId): Option[Manifest] =
    locked(id)(resolve(spark, id)).cur

  /** The table's live rows: a plain scan of its base runs, or, with delta
    * runs pending, one scan of every run merged per key in one shuffle.
    */
  def read(spark: SparkSession, id: TableId): DataFrame = {
    val t = locked(id)(resolve(spark, id))
    t.cur.fold(throw new java.io.FileNotFoundException(s"no upsert-sink state at ${t.path}")) { m =>
      if (!m.live.values.exists(_.deltas.nonEmpty)) scan(t, m, m.schema)
      else Changelog.materialize(stateRows(t, m), m.keys).select(m.schema.fieldNames.map(col): _*)
    }
  }
}

object ParquetUpsertSink {
  /** `buckets` sentinel: derive the bucket count from a row count — one
    * bucket per [[RowsPerBucketConf]] rows, clamped to
    * [1, [[MaxDerivedBuckets]]] — at the first write and at every
    * compaction, and record it in the table's manifest.
    */
  val AutoBuckets: Int = -1
  /** Target rows per PK-hash bucket for [[AutoBuckets]] derivation (Spark
    * conf; default 524288 ≈ 64-128 MB parquet at typical CDC row widths —
    * guide §6's output-file sizing band).
    */
  val RowsPerBucketConf = "spark.graft.upsert.rowsPerBucket"
  val MaxDerivedBuckets = 4096

  /** The runs of one bucket: its base version, if the last compaction left
    * it rows, and its delta versions, oldest first.
    */
  private[graft] final case class Runs(base: Option[Long], deltas: Seq[Long])

  /** One published commit of a table: the layout every write hashes with
    * (`modulus` buckets over the `keys` columns, `derived` under
    * [[AutoBuckets]]), the state schema, the runs of each bucket (a bucket
    * absent from `live` has none), and the rows the last compaction wrote
    * (`baseRows`) and the appends since (`deltaRows`).
    */
  private[graft] final case class Manifest(version: Long, modulus: Int, keys: Seq[String],
                                           derived: Boolean, schema: StructType,
                                           live: Map[Int, Runs], baseRows: Long, deltaRows: Long) {
    /** Every (bucket, version) dir the manifest references. */
    def runs: Seq[(Int, Long)] =
      live.toSeq.flatMap { case (b, r) => (r.base.toSeq ++ r.deltas).map(b -> _) }
  }

  /** A table resolved under its lock: the newest complete manifest (None
    * before the first commit) and every manifest version on disk.
    */
  private final case class Table(spark: SparkSession, fs: FileSystem, path: String,
                                 cur: Option[Manifest], versions: Seq[Long]) {
    def nextVersion: Long = cur.fold(1L)(_.version + 1)
  }

  private val BucketCol = "__bucket"
  /** Version of the delta run a row was appended in (absent from base runs). */
  private val RunCol = "__run"
  private val ManifestDir = "_manifest"
  private val ManifestFile = """(\d+)\.json""".r
  private val VersionDir = """v(\d+)""".r
  private val BucketDir = """__bucket=(\d+)""".r
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
  private val ObservedRowsTimeout = scala.concurrent.duration.Duration(1, "minute")

  /** Same column names and types, nullability aside. */
  private def sameColumns(a: StructType, b: StructType): Boolean = {
    def cols(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toSet
    cols(a) == cols(b)
  }

  private def encode(m: Manifest): Array[Byte] = {
    val n = Json.createObjectNode()
    n.put("modulus", m.modulus)
    n.put("derived", m.derived)
    val keys = n.putArray("keys")
    m.keys.foreach(k => keys.add(k))
    n.set[com.fasterxml.jackson.databind.JsonNode]("schema", Json.readTree(m.schema.json))
    n.put("baseRows", m.baseRows)
    n.put("deltaRows", m.deltaRows)
    val live = n.putObject("live")
    m.live.foreach { case (b, r) =>
      val runs = live.putObject(b.toString)
      r.base.foreach(v => runs.put("base", v))
      val deltas = runs.putArray("deltas")
      r.deltas.foreach(v => deltas.add(v))
    }
    Json.writeValueAsBytes(n)
  }

  /** None for bytes that are not one whole JSON object: a torn manifest
    * (truncated JSON also throws, see the caller). A manifest of the
    * copy-on-write format (one version per bucket, no row counts) reads as
    * base runs with no recorded rows, so its next write compacts.
    */
  private def decode(version: Long, bytes: Array[Byte]): Option[Manifest] = {
    import scala.jdk.CollectionConverters._
    Option(Json.readTree(bytes)).filter(_.isObject).map(n => Manifest(version,
      n.get("modulus").asInt,
      n.get("keys").elements.asScala.map(_.asText).toSeq,
      n.path("derived").asBoolean,
      org.apache.spark.sql.types.DataType.fromJson(n.get("schema").toString).asInstanceOf[StructType],
      n.get("live").properties.asScala.map { e =>
        val r = e.getValue
        e.getKey.toInt -> (if (r.isNumber) Runs(Some(r.asLong), Nil)
          else Runs(Option(r.get("base")).map(_.asLong), r.get("deltas").elements.asScala.map(_.asLong).toSeq))
      }.toMap,
      n.path("baseRows").asLong, n.path("deltaRows").asLong))
  }
}

/** JDBC upsert sink: DDL via [[UpsertSql]], data via [[UpsertWriter]] —
  * the full DSQL-sink port (SURVEY.md §2.2).
  */
final class JdbcUpsertSink(connectionFactory: () => java.sql.Connection,
                           batchSize: Int = 1000,
                           applyDestructive: Boolean = false) extends CdcSink {
  import graft.model._

  private def exec(sql: String): Unit = {
    val c = connectionFactory()
    try { val st = c.createStatement(); st.execute(sql); st.close() } finally c.close()
  }

  /** Lossless type transitions per current information_schema type name:
    * only these are auto-applied. Everything else (narrowing, lossy casts)
    * is destructive and gated — the reference applier logs and skips
    * changes it won't do (DsqlSink.java:81-89).
    */
  private val widensTo: Map[String, Set[String]] = Map(
    // int→DECIMAL transitions are judged precision-aware in applySchemaChange
    "smallint" -> Set("integer", "bigint", "real", "double precision", "text"),
    "integer" -> Set("bigint", "double precision", "text"),
    "bigint" -> Set("text"),
    "real" -> Set("double precision", "text"),
    "double precision" -> Set("text"),
    "numeric" -> Set("text"),
    "character varying" -> Set("text"),
    "date" -> Set("timestamp without time zone", "timestamp with time zone", "text"),
    "timestamp without time zone" -> Set("timestamp with time zone", "text"),
    "boolean" -> Set("text")
  )

  /** information_schema (type name, numeric precision, numeric scale) of a
    * live column (None when absent). Precision/scale are None for
    * non-numeric and for UNCONSTRAINED numeric columns.
    */
  private def currentType(id: TableId, column: String): Option[(String, Option[Int], Option[Int])] = {
    val c = connectionFactory()
    try {
      val st = c.prepareStatement(
        "SELECT data_type, numeric_precision, numeric_scale FROM information_schema.columns " +
          "WHERE table_schema = ? AND table_name = ? AND column_name = ?")
      st.setString(1, if (id.schemaName.nonEmpty) id.schemaName else "public")
      st.setString(2, id.tableName)
      st.setString(3, column)
      val rs = st.executeQuery()
      val r = if (rs.next()) {
        def optInt(i: Int): Option[Int] = {
          val v = rs.getInt(i); if (rs.wasNull()) None else Some(v)
        }
        Some((rs.getString(1).toLowerCase, optInt(2), optInt(3)))
      } else None
      st.close()
      r
    } finally c.close()
  }

  /** NUMERIC(p,s) → NUMERIC(p',s') is lossless only when the scale does not
    * shrink AND the integer-digit headroom (p−s) does not shrink —
    * information_schema reports 'numeric' for every precision, so the name
    * comparison alone would wave narrowings through.
    */
  private def decimalWidens(cur: (Option[Int], Option[Int]), target: org.apache.spark.sql.types.DecimalType): Boolean =
    cur match {
      case (Some(p), Some(s)) =>
        target.scale >= s && (target.precision - target.scale) >= (p - s)
      case _ => false // unconstrained numeric: only TEXT is wider
    }

  /** DDL-type string → information_schema data_type name. */
  private def infoSchemaName(ddlType: String): String = ddlType.toLowerCase match {
    case t if t.startsWith("numeric") => "numeric"
    case "timestamptz" => "timestamp with time zone"
    case "timestamp" => "timestamp without time zone"
    case t => t
  }

  override def applySchemaChange(e: SchemaChangeEvent): Unit = e match {
    case CreateTableEvent(id, s) => exec(UpsertSql.createTable(id, s))
    case AddColumnEvent(id, n, dt, pos) => exec(UpsertSql.addColumn(id, n, dt, pos))
    case DropColumnEvent(id, n) => exec(UpsertSql.dropColumn(id, n))
    case RenameColumnEvent(id, f, t2) => exec(UpsertSql.renameColumn(id, f, t2))
    case TruncateTableEvent(id) => exec(UpsertSql.truncate(id))
    // the sink is public API, so it cannot assume only the widening registry
    // sends AlterColumnType: verify the transition against the live column
    // type and auto-apply only lossless widenings; anything else needs the
    // applyDestructive opt-in (the USING ::type cast would let a narrowing
    // change succeed lossily).
    case AlterColumnTypeEvent(id, n, dt) =>
      val target = infoSchemaName(UpsertSql.pgType(dt))
      val safe = currentType(id, n) match {
        case Some((cur, p, s)) => dt match {
          // a DECIMAL target is only wider when it has the scale AND the
          // integer-digit headroom for every current value
          case d: org.apache.spark.sql.types.DecimalType => cur match {
            case "numeric" => decimalWidens((p, s), d)
            case "smallint" => d.precision - d.scale >= 5
            case "integer" => d.precision - d.scale >= 10
            case "bigint" => d.precision - d.scale >= 19
            case _ => false
          }
          case _ =>
            (cur == target && target != "numeric") ||
              widensTo.getOrElse(cur, Set.empty).contains(target)
        }
        case None => false // unknown column: nothing safe to verify against
      }
      if (safe || applyDestructive) exec(UpsertSql.alterColumnType(id, n, dt))
      else {
        // scalastyle:off println
        println(s"[graft-sink] SKIP non-widening AlterColumnType $id.$n -> $target " +
          "(set applyDestructive=true to force)")
        // scalastyle:on
      }
    case DropTableEvent(id) => if (applyDestructive) exec(UpsertSql.dropTable(id))
  }

  override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit =
    new UpsertWriter(connectionFactory, batchSize).writeBatch(changelog, id, schema)
}
