package perfbench

import scala.collection.mutable

import graft.model._
import graft.operators.SchemaRegistry
import graft.pipeline.PipelineDef
import graft.sinks.{CdcSink, ParquetUpsertSink}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, LongType}
import perfbench.Common._
import perfbench.Gen._

/** `multi_table_evolve`: two shards x three tables merged 2->1 into `dw.*`
  * under YAML-parsed transform and route rules, driven as a closed loop of
  * fixed-size batches; every fifth batch carries an in-band DDL.
  */
object MultiTable {
  val Keys = 20000
  val BatchSize = 3000
  val TableParallelism = 4
  val WarmKeys = 500
  val WarmBatch = 300
  val SetupRounds = 3

  private val schema: CdcSchema =
    CdcSchema.of(Shards.BaseColumns: _*).copy(primaryKeys = Seq("id"))

  private def pipeline(defn: PipelineDef, sink: CdcSink): StreamingPipeline =
    new StreamingPipeline(new SchemaRegistry(SchemaChangeBehavior.of(defn.schemaChangeBehavior)),
      transforms = defn.transforms, routes = defn.routes, sink = sink,
      tableParallelism = TableParallelism)

  private def ddlLine(d: Shards.Ddl): String = SchemaChangeJson.toJson(
    if (d.widen) AlterColumnTypeEvent(TableId.of(d.db, d.table), d.column, LongType)
    else AddColumnEvent(TableId.of(d.db, d.table), d.column, IntegerType))

  /** Snapshot images as one CSV file per source table. */
  private def snapshotFiles(feed: ShardFeed, dir: String): Seq[(TableId, String)] =
    feed.snapshot.map { case (db, table, rows) =>
      TableId.of(db, table) ->
        writeCsv(s"$dir/$db.$table.csv", Shards.BaseColumns.map(_._1), rows.iterator)
    }

  private def load(spark: SparkSession, p: StreamingPipeline, files: Seq[(TableId, String)]): Unit =
    files.foreach { case (src, path) => p.snapshotLoad(src, readCsv(spark, path, schema.struct)) }

  private def batchFile(path: String, ddl: Option[Shards.Ddl], evs: Seq[Ev]): String =
    writeLines(path, ddl.map(ddlLine).iterator ++ evs.iterator.map(_.line))

  private def create(p: StreamingPipeline): Unit =
    for (db <- Shards.Dbs; t <- Shards.Tables)
      p.applySchemaChange(CreateTableEvent(TableId.of(db, t), schema))

  def run(seed: Long, seconds: Int, trace: Boolean, cores: Int, work: String): Result = {
    val fold = new Fold
    val g0 = System.nanoTime()
    val feed = new ShardFeed(seed, Keys, BatchSize)
    val snapFiles = snapshotFiles(feed, s"$work/input/snapshot")
    feed.snapshotEvents.foreach(fold.apply)
    val warmInputs = (1 to SetupRounds).map { r =>
      val warm = new ShardFeed(seed ^ (0x5eed + r), WarmKeys, WarmBatch, ddlEvery = 2)
      val files = snapshotFiles(warm, s"$work/input/warm-$r")
      (files, (0 until 2).map { i =>
        val (ddl, evs) = warm.nextBatch()
        batchFile(s"$work/input/warm-$r/batch-$i.json", ddl, evs)
      })
    }
    val generationS = (System.nanoTime() - g0) / 1e9

    // ---- set-up: session, YAML parse, construction, warm-up on its own tables ----
    val (spark, rounds) = setupRounds(cores, SetupRounds) { (spark, r) =>
      val (files, batches) = warmInputs(r - 1)
      val p = pipeline(PipelineDef.fromYaml(Shards.Yaml),
        new ParquetUpsertSink(s"$work/warm-$r", ParquetUpsertSink.AutoBuckets))
      create(p)
      load(spark, p, files)
      batches.zipWithIndex.foreach { case (b, i) => p.processBatch(feedFrame(spark, b), i.toLong) }
      0.0
    }
    val parseS = median(Seq.fill(5)(secondsOf { PipelineDef.fromYaml(Shards.Yaml); () }))
    val defn = PipelineDef.fromYaml(Shards.Yaml)

    val fs = new Trace.FsCounters
    val sink =
      if (trace) new Trace.CountingSink(s"$work/state", fs)
      else new ParquetUpsertSink(s"$work/state", ParquetUpsertSink.AutoBuckets)
    val timing = new Trace.TimingSink(sink)
    val p = pipeline(defn, if (trace) timing else sink)
    val tracer = if (trace) Some(new Trace.Tracer(spark, timing, fs)) else None
    def timed(name: String, phase: String)(f: => Unit) = Trace.timed(tracer, name, phase)(f)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    layer("pipeline.parse_s") = parseS

    // ---- initial snapshot of all six source tables ----
    create(p)
    val snap = timed("snapshotLoad", "snapshot")(load(spark, p, snapFiles))

    // ---- closed loop: next batch as soon as the previous one commits ----
    val t0 = System.nanoTime()
    var batchId = 0L
    val walls = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.ArrayBuffer.empty[(Boolean, Trace.Sample)]
    var events = 0L
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (ddl, evs) = feed.nextBatch()
      val formed = System.nanoTime()
      val df = feedFrame(spark, batchFile(s"$work/input/batch-$batchId.json", ddl, evs))
      if (trace && batchId == 0) {
        val src = TableId.of(Shards.Dbs.head, Shards.Tables.head)
        val n = evs.count(_.line.contains(s""""db":"${src.schemaName}","table":"${src.tableName}""""))
        layer ++= Layers.prefixes(df, src, schema, defn.transforms, Seq("id"), n.toLong)
      }
      val s = timed("processBatch", if (ddl.isDefined) "ddl_batch" else "batch")(
        p.processBatch(df, batchId))
      val commit = System.nanoTime()
      batchId += 1
      walls += s.wallS
      samples += ((ddl.isDefined, s))
      fresh += (commit - formed) / 1e9
      events += evs.size
      evs.foreach(fold.apply)
    }

    // ---- correctness and state size ----
    var bad = 0L
    var stateBytes = 0L
    var liveRows = 0L
    var files = 0
    Shards.Tables.foreach { t =>
      val out = TableId.of("dw", t)
      val expected = fold.table(s"dw.$t")
      bad += mismatches(sink.read(spark, out), "id", expected)
      stateBytes += dirBytes(sink.tablePath(out))
      files += parquetFiles(sink.tablePath(out))
      liveRows += expected.size
    }
    val snapRows = Shards.Dbs.size * Shards.Tables.size * Keys
    val eventsPerS = events / walls.sum

    val report = Map(
      "setup_s" -> M(median(rounds), "s"),
      "snapshot_rows_per_s" -> M(snapRows / snap.wallS, "1/s"),
      "events_per_s" -> M(eventsPerS, "1/s"),
      "rows_per_s" -> M(eventsPerS, "1/s"),
      "batch_p50_s" -> M(median(walls.toSeq), "s"),
      "batch_p90_s" -> M(pct(walls.toSeq, 90), "s"),
      "freshness_p50_s" -> M(median(fresh.toSeq), "s"),
      "state_bytes_per_row" -> M(stateBytes.toDouble / math.max(1L, liveRows), "B"))
    val health = Map[String, Any](
      "batches" -> walls.size, "ddl_batches" -> samples.count(_._1), "events" -> events,
      "live_rows" -> liveRows, "generation_s" -> generationS, "snapshot_s" -> snap.wallS,
      "setup_rounds_s" -> rounds)

    if (trace) {
      val all = samples.map(_._2).toSeq
      val plain = samples.filterNot(_._1).map(_._2).toSeq
      val ddls = samples.filter(_._1).map(_._2).toSeq
      def med(xs: Seq[Trace.Sample])(f: Trace.Sample => Double) =
        if (xs.isEmpty) 0.0 else median(xs.map(f))
      layer ++= Map(
        "streaming.jobs_per_batch" -> med(all)(_.spark.jobs.toDouble),
        "streaming.tasks_per_batch" -> med(all)(_.spark.tasks.toDouble),
        "streaming.driver_s" -> med(all)(_.driverS),
        "streaming.sink_writes_per_batch" -> med(all)(_.sinkWrites.toDouble),
        "sinks.rows_written_per_event" -> all.map(_.spark.outRecords).sum.toDouble / events,
        "sinks.bytes_written_per_batch" -> med(all)(_.spark.outBytes.toDouble),
        "sinks.write_s" -> med(plain)(_.writeS),
        "sinks.commit_fs_ops_per_batch" -> med(plain)(_.fsOps.toDouble),
        "sinks.commit_fs_s" -> med(plain)(_.fsS),
        "sinks.ddl_s" -> med(ddls)(_.ddlS),
        "operators.shuffle_bytes_per_batch" -> med(all)(_.spark.shuffleBytes.toDouble),
        "sinks.snapshot_write_s" -> snap.writeS,
        "sinks.files_per_table" -> files.toDouble / Shards.Tables.size)
    }
    Result(snapRows.toLong + events, bad, report, layer.toMap, health,
      tracer.toSeq.flatMap(_.spansJson))
  }
}
