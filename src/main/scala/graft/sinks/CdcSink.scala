package graft.sinks

import graft.model.{CdcSchema, SchemaChangeEvent, TableId}
import graft.operators.Changelog
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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

/** Parquet-backed upsert sink: maintains one parquet state per table; each
  * batch merges last-image-per-PK changes into it.
  *
  * This is the lakehouse `MERGE INTO` shape of the reference's DSQL sink
  * (SURVEY.md §2.2 "Iceberg/Delta: MERGE INTO in foreachBatch") without a
  * table format: state' = materialize(state-as-inserts ∪ batch). All heavy
  * work is distributed (one hash aggregation keyed by PK). Idempotent per
  * batch — replaying a batch converges to the same state, so at-least-once
  * delivery becomes effectively-once. Schema evolution: DDL rewrites state
  * eagerly ([[applySchemaChange]]), and the merge path ALSO coerces (cast +
  * null-pad) on read as a belt-and-braces for state that lags after a crash
  * between DDL and rewrite.
  *
  * State is split into `pmod(xxhash64(keys), modulus)` buckets: a batch
  * reads and rewrites ONLY the buckets it touches, so merge cost scales with
  * batch footprint, not table size. The default (`buckets = 0`) is a
  * one-bucket layout; [[ParquetUpsertSink.AutoBuckets]] derives the modulus
  * from the first batch's size (one bucket per
  * [[ParquetUpsertSink.RowsPerBucketConf]] rows, guide §6 scale-adaptive file
  * sizing), so a 100 k-row fixture writes one file per merge while a
  * 10^9-row snapshot gets ~2000 buckets of ~64-128 MB each.
  *
  * Commit protocol — one path for every write, DDL rewrite and truncate, on
  * the snapshot-log design of Delta Lake (Armbrust et al., VLDB 2020):
  *  1. Resolve the newest complete manifest `<table>/_manifest/<N>.json`. It
  *     records the layout (modulus and hash-key columns), the state schema
  *     and the live dir of each bucket, `<table>/v<M>/__bucket=<b>`.
  *  2. Spark writes the rewritten buckets into the fresh dir
  *     `<table>/v<N+1>/`. No live dir is touched, so a failed job or a dead
  *     process leaves the previous state intact.
  *  3. Publish manifest N+1 with one `create`. A manifest that does not parse
  *     was torn by a crash mid-write: readers skip it for the previous one,
  *     and the next commit overwrites it.
  *  4. Delete every dir and older manifest that manifest N+1 does not
  *     reference, leftovers of crashed commits included.
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

  /** Rows of the buckets in `bs` that `m` lists, each dir passed as its own
    * leaf path (no partition discovery, so dirs of different versions mix).
    */
  private def readBuckets(t: Table, m: Manifest, bs: Iterable[Int]): DataFrame = {
    val dirs = bs.iterator.filter(m.live.contains).map(b => bucketDir(t.path, b, m.live(b))).toSeq.sorted
    if (dirs.isEmpty) t.spark.createDataFrame(java.util.Collections.emptyList[Row](), m.schema)
    else t.spark.read.schema(m.schema).parquet(dirs: _*)
  }

  /** The one commit path: Spark writes `data` (bucket column included, in
    * the given number of tasks) into the fresh dir `v<next.version>`, then
    * `next` is published with the buckets written added to its live set,
    * then everything it does not reference is deleted.
    */
  private def commit(t: Table, next: Manifest, data: Option[(DataFrame, Int)]): Unit = {
    val dir = new Path(s"${t.path}/v${next.version}")
    val written = data.fold(Map.empty[Int, Long]) { case (df, width) =>
      // static overwrite empties the dir first: bucket dirs a crashed commit
      // left under this version must not be listed as written below
      df.repartition(math.max(width, 1), col(BucketCol))
        .write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy(BucketCol).parquet(dir.toString)
      t.fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .collect { case BucketDir(b) => b.toInt -> next.version }.toMap
    }
    val published = next.copy(live = next.live ++ written)
    val out = t.fs.create(manifestPath(t.path, published.version), true)
    try out.write(encode(published)) finally out.close()
    collectGarbage(t, published)
  }

  /** Delete what `kept` does not reference: whole version dirs (displaced,
    * or left by crashed commits), displaced bucket dirs inside versions it
    * still references, and every other manifest. The other manifests go
    * last: until then they name the displaced dirs for a commit that has to
    * finish this one's cleanup after a crash.
    */
  private def collectGarbage(t: Table, kept: Manifest): Unit = {
    val referenced = kept.live.values.toSet
    t.fs.listStatus(new Path(t.path)).foreach { s =>
      s.getPath.getName match {
        case VersionDir(v) if !referenced(v.toLong) => t.fs.delete(s.getPath, true)
        case _ => ()
      }
    }
    val others = t.versions.filter(_ != kept.version)
    for (v <- others; o <- t.cur.filter(_.version == v).orElse(parse(t.fs, t.path, v));
         (b, bv) <- o.live if referenced(bv) && !kept.live.get(b).contains(bv))
      t.fs.delete(new Path(bucketDir(t.path, b, bv)), true)
    others.foreach(v => t.fs.delete(manifestPath(t.path, v), false))
  }

  private def withBucket(df: DataFrame, keys: Seq[String], m: Int): DataFrame =
    df.withColumn(BucketCol, pmod(xxhash64(keys.map(col): _*), lit(m.toLong)).cast("int"))

  /** Coerce on-disk state (possibly older schema) to the evolved shape and
    * stamp it as lowest-seq inserts so batch rows win per PK.
    */
  private def stateAsInserts(state: DataFrame, schema: CdcSchema): DataFrame = {
    val present = state.columns.toSet
    state.select(schema.struct.fields.toSeq.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
      .withColumn(Changelog.OpCol, lit("INSERT"))
      .withColumn(Changelog.SeqCol, lit(Long.MinValue))
  }

  /** Bucket count for a table without rows: the constructor's, or derived
    * from this first batch's row count under [[AutoBuckets]].
    */
  private def derivedBuckets(spark: SparkSession, incoming: DataFrame): Int =
    if (buckets != AutoBuckets) math.max(buckets, 1)
    else {
      val target = spark.conf.getOption(RowsPerBucketConf).map(_.toLong).getOrElse(524288L)
      val rows = incoming.count()
      math.max(1L, math.min(MaxDerivedBuckets.toLong, (rows + target - 1) / target)).toInt
    }

  /** Merge the batch into ONLY the buckets it touches: their live dirs are
    * read, merged and written as the new version, the rest stay where they
    * are. A bucket whose rows were all deleted simply leaves the live set.
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
    // cache only for a second consumer: the deriving count or the bucket probe
    val cached = live.fold(buckets == AutoBuckets || buckets > 1)(_.modulus > 1)
    val inc = if (cached) incoming.cache() else incoming
    try {
      val m = live.fold(derivedBuckets(t.spark, inc))(_.modulus)
      val bucketed = withBucket(inc, keys, m)
      // one bucket: every row lands in bucket 0, no probe job needed
      val touched =
        if (m == 1) Seq(0) else bucketed.select(BucketCol).distinct().collect().map(_.getInt(0)).toSeq
      val state = live.map(s => withBucket(stateAsInserts(readBuckets(t, s, touched), schema), keys, m))
      val merged = Changelog.materialize(state.fold(bucketed)(_.unionByName(bucketed)), keys :+ BucketCol)
      commit(t, Manifest(t.nextVersion, m, keys, StructType(merged.schema.filterNot(_.name == BucketCol)),
        live.fold(Map.empty[Int, Long])(_.live -- touched)), Some(merged -> touched.size))
    } finally if (cached) { inc.unpersist(); () }
  }

  /** DDL applies EAGERLY to on-disk state (the reference's MetadataApplier
    * runs its ALTER TABLE before the data resumes): lazy coercion alone
    * would leave buckets a batch never touches under the OLD shape. A
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

  /** Rewrite every live bucket through `fn` as one commit, re-deriving each
    * row's bucket from the recorded hash-key columns (`renameKey` follows a
    * column rename): a widened key type hashes differently, so the old
    * bucket of a row is not its bucket any more. An unchanged shape is a
    * replayed DDL, which only finishes its predecessor's cleanup.
    */
  private def rewriteState(id: TableId, renameKey: String => String = identity)
                          (fn: DataFrame => DataFrame): Unit = locked(id) {
    val t = resolve(activeSession, id)
    t.cur.foreach { m =>
      val state = readBuckets(t, m, m.live.keys)
      val next = fn(state)
      if (next.schema == state.schema) collectGarbage(t, m)
      else {
        val keys = m.keys.map(renameKey)
        commit(t, Manifest(t.nextVersion, m.modulus, keys, next.schema, Map.empty),
          Some(withBucket(next, keys, m.modulus) -> m.live.size))
      }
    }
  }

  /** Truncate is a commit that publishes no bucket; drop then deletes the
    * table dir, which by then holds nothing but that empty manifest.
    */
  private def truncate(id: TableId, drop: Boolean): Unit = locked(id) {
    val t = resolve(activeSession, id)
    t.cur.foreach(m => commit(t, m.copy(version = t.nextVersion, live = Map.empty), None))
    if (drop) { t.fs.delete(new Path(t.path), true); () }
  }

  /** The table's newest complete manifest (None before its first commit). */
  private[graft] def manifest(spark: SparkSession, id: TableId): Option[Manifest] =
    locked(id)(resolve(spark, id)).cur

  def read(spark: SparkSession, id: TableId): DataFrame = {
    val t = locked(id)(resolve(spark, id))
    t.cur.fold(throw new java.io.FileNotFoundException(s"no upsert-sink state at ${t.path}"))(
      m => readBuckets(t, m, m.live.keys))
  }
}

object ParquetUpsertSink {
  /** `buckets` sentinel: derive the bucket count from the first batch's row
    * count — one bucket per [[RowsPerBucketConf]] rows, clamped to
    * [1, [[MaxDerivedBuckets]]] — and record it in the table's manifest.
    */
  val AutoBuckets: Int = -1
  /** Target rows per PK-hash bucket for [[AutoBuckets]] derivation (Spark
    * conf; default 524288 ≈ 64-128 MB parquet at typical CDC row widths —
    * guide §6's output-file sizing band).
    */
  val RowsPerBucketConf = "spark.graft.upsert.rowsPerBucket"
  val MaxDerivedBuckets = 4096

  /** One published commit of a table: the layout every write hashes with
    * (`modulus` buckets over the `keys` columns), the state schema, and the
    * version whose dir holds each live bucket (`v<live(b)>/__bucket=<b>`); a
    * bucket absent from `live` has no rows.
    */
  private[graft] final case class Manifest(version: Long, modulus: Int, keys: Seq[String],
                                           schema: StructType, live: Map[Int, Long])

  /** A table resolved under its lock: the newest complete manifest (None
    * before the first commit) and every manifest version on disk.
    */
  private final case class Table(spark: SparkSession, fs: FileSystem, path: String,
                                 cur: Option[Manifest], versions: Seq[Long]) {
    def nextVersion: Long = cur.fold(1L)(_.version + 1)
  }

  private val BucketCol = "__bucket"
  private val ManifestDir = "_manifest"
  private val ManifestFile = """(\d+)\.json""".r
  private val VersionDir = """v(\d+)""".r
  private val BucketDir = """__bucket=(\d+)""".r
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def encode(m: Manifest): Array[Byte] = {
    val n = Json.createObjectNode()
    n.put("modulus", m.modulus)
    val keys = n.putArray("keys")
    m.keys.foreach(k => keys.add(k))
    n.set[com.fasterxml.jackson.databind.JsonNode]("schema", Json.readTree(m.schema.json))
    val live = n.putObject("live")
    m.live.foreach { case (b, v) => live.put(b.toString, v) }
    Json.writeValueAsBytes(n)
  }

  /** None for bytes that are not one whole JSON object: a torn manifest
    * (truncated JSON also throws, see the caller).
    */
  private def decode(version: Long, bytes: Array[Byte]): Option[Manifest] = {
    import scala.jdk.CollectionConverters._
    Option(Json.readTree(bytes)).filter(_.isObject).map(n => Manifest(version,
      n.get("modulus").asInt,
      n.get("keys").elements.asScala.map(_.asText).toSeq,
      org.apache.spark.sql.types.DataType.fromJson(n.get("schema").toString).asInstanceOf[StructType],
      n.get("live").properties.asScala.map(e => e.getKey.toInt -> e.getValue.asLong).toMap))
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
