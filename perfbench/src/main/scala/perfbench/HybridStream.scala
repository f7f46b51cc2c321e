package perfbench

import scala.collection.mutable

import graft.model.{CdcSchema, CreateTableEvent, TableId}
import graft.operators.SchemaRegistry
import graft.pipeline.PipelineDef
import graft.sinks.{CdcSink, ParquetUpsertSink}
import graft.streaming.StreamingPipeline
import perfbench.Common._
import perfbench.Gen._

/** `hybrid_stream`: one orders table through the hybrid-source lifecycle —
  * a warm snapshot load, a catch-up backlog in large batches, then a live
  * phase fed open-loop at a fixed event rate.
  */
object HybridStream {
  val Keys = 30000
  val CatchupBatches = 5
  val CatchupSize = 20000
  val Rate = 2000 // live events per second
  val WarmKeys = 1000
  val WarmBatch = 2000
  val SetupRounds = 3

  val schema: CdcSchema =
    CdcSchema.of(Orders.Columns: _*).copy(primaryKeys = Seq("order_id"))

  private def pipeline(defn: PipelineDef, sink: CdcSink): StreamingPipeline =
    new StreamingPipeline(new SchemaRegistry(), transforms = defn.transforms, sink = sink)

  def run(seed: Long, seconds: Int, trace: Boolean, cores: Int, work: String): Result = {
    // ---- inputs (generated before any timing) as files ----
    val g0 = System.nanoTime()
    val cols = Orders.Columns.map(_._1)
    val fold = new Fold
    val feed = new OrdersFeed(seed, Keys)
    val snapPath = writeCsv(s"$work/input/snapshot.csv", cols, feed.snapshot.iterator)
    feed.snapshotEffects.foreach { case Put(k, r) => fold.table(feed.Sink)(k) = r; case _ => () }
    // every catch-up event is applied, so the fold takes them as they are drawn
    val catchup = (0 until CatchupBatches).map { i =>
      writeLines(s"$work/input/catchup-$i.json",
        Iterator.fill(CatchupSize)(feed.next()).map { ev => fold(ev); ev.line })
    }
    // live events: as many as the phase can take; the fold applies those taken
    val live = IndexedSeq.fill(Rate * (seconds + 2))(feed.next())
    val warm = new OrdersFeed(seed ^ 0x5eed, WarmKeys, db = "warm")
    val warmSnap = writeCsv(s"$work/input/warm-snapshot.csv", cols, warm.snapshot.iterator)
    val warmBatch = writeLines(s"$work/input/warm-0.json", Iterator.fill(WarmBatch)(warm.next().line))
    val src = TableId.of(Orders.Db, Orders.Table)
    val generationS = (System.nanoTime() - g0) / 1e9

    // ---- set-up: session, construction, warm-up pipeline on its own table ----
    val (spark, rounds) = setupRounds(cores, SetupRounds) { (spark, r) =>
      val p = pipeline(PipelineDef.fromYaml(Orders.Yaml),
        new ParquetUpsertSink(s"$work/warm-$r", ParquetUpsertSink.AutoBuckets))
      val wsrc = TableId.of("warm", Orders.Table)
      p.applySchemaChange(CreateTableEvent(wsrc, schema))
      p.snapshotLoad(wsrc, readCsv(spark, warmSnap, schema.struct))
      p.processBatch(feedFrame(spark, warmBatch), 0L)
      0.0
    }

    val parseS = median(Seq.fill(5)(secondsOf { PipelineDef.fromYaml(Orders.Yaml); () }))
    val defn = PipelineDef.fromYaml(Orders.Yaml)
    val fs = new Trace.FsCounters
    val sink =
      if (trace) new Trace.CountingSink(s"$work/state", fs)
      else new ParquetUpsertSink(s"$work/state", ParquetUpsertSink.AutoBuckets)
    val timing = new Trace.TimingSink(sink)
    val p = pipeline(defn, if (trace) timing else sink)
    val tracer = if (trace) Some(new Trace.Tracer(spark, timing, fs)) else None
    def timed(name: String, phase: String)(f: => Unit) = Trace.timed(tracer, name, phase)(f)
    val layer = mutable.LinkedHashMap("pipeline.parse_s" -> parseS)

    // ---- snapshot ----
    p.applySchemaChange(CreateTableEvent(src, schema))
    val snap = timed("snapshotLoad", "snapshot")(
      p.snapshotLoad(src, readCsv(spark, snapPath, schema.struct)))
    layer("sinks.snapshot_write_s") = snap.writeS

    // ---- catch-up backlog ----
    var batchId = 0L
    val catchupS = catchup.map { path =>
      val df = feedFrame(spark, path)
      if (trace && batchId == 0)
        layer ++= Layers.prefixes(df, src, schema, defn.transforms, Seq("order_id"),
          CatchupSize.toLong)
      val s = timed("processBatch", "catchup")(p.processBatch(df, batchId))
      batchId += 1
      s.wallS
    }

    // ---- live: open loop at Rate events/s ----
    // event i is due at i / Rate seconds after the phase starts; each trigger
    // takes every due event, as soon as the previous batch has committed
    val t0 = System.nanoTime()
    def now: Double = (System.nanoTime() - t0) / 1e9
    var next = 0
    var lastCommit = 0.0
    val walls = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    val late = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Int]
    val samples = mutable.ArrayBuffer.empty[Trace.Sample]
    val sizes = mutable.ArrayBuffer.empty[Int]
    while (now < seconds) {
      val t = now
      val due = math.min(live.size, math.floor(t * Rate).toInt + 1)
      if (due <= next) Thread.sleep(math.max(1L, ((next.toDouble / Rate - t) * 1000).toLong))
      else {
        val batch = live.slice(next, due)
        // the trigger was due when both its first event and the previous commit were
        late += t - math.max(lastCommit, next.toDouble / Rate)
        backlog += due - next
        val df = feedFrame(spark,
          writeLines(s"$work/input/live-$batchId.json", batch.iterator.map(_.line)))
        val s = timed("processBatch", "live")(p.processBatch(df, batchId))
        batchId += 1
        lastCommit = now
        walls += s.wallS
        samples += s
        sizes += batch.size
        (next until due).foreach(i => fresh += lastCommit - i.toDouble / Rate)
        batch.foreach(fold.apply)
        next = due
      }
    }
    val backlogEnd = math.min(live.size, math.floor(now * Rate).toInt + 1) - next

    // ---- correctness and state size ----
    val expected = fold.table(feed.Sink)
    val v0 = System.nanoTime()
    val bad = mismatches(sink.read(spark, src), "order_id", expected)
    val verifyS = (System.nanoTime() - v0) / 1e9
    val stateBytes = dirBytes(sink.tablePath(src)).toDouble
    val snapshotRowsPerS = Keys / snap.wallS
    // the median batch: one batch that paid a JIT or GC stall moves it least
    val catchupPerS = CatchupSize / median(catchupS)
    val steadyBacklog = if (backlog.size > 1) backlog(1) else backlog.head
    val overloaded = backlogEnd > 1.25 * steadyBacklog + Rate * 0.25

    val report = Map(
      "setup_s" -> M(median(rounds), "s"),
      "snapshot_rows_per_s" -> M(snapshotRowsPerS, "1/s"),
      "catchup_events_per_s" -> M(catchupPerS, "1/s"),
      "rows_per_s" -> M(catchupPerS, "1/s"),
      "freshness_p50_s" -> M(median(fresh.toSeq), "s"),
      "freshness_p90_s" -> M(pct(fresh.toSeq, 90), "s"),
      "batch_p50_s" -> M(median(walls.toSeq), "s"),
      "batch_p90_s" -> M(pct(walls.toSeq, 90), "s"),
      "state_bytes_per_row" -> M(stateBytes / math.max(1, expected.size), "B"))
    val health = Map[String, Any](
      "live_batches" -> walls.size, "live_events" -> fresh.size,
      "trigger_late_p50_s" -> median(late.toSeq), "trigger_late_max_s" -> late.max,
      "backlog_start" -> steadyBacklog, "backlog_end" -> backlogEnd,
      "above_sustainable_rate" -> overloaded, "live_rows" -> expected.size,
      "generation_s" -> generationS, "verify_s" -> verifyS, "snapshot_s" -> snap.wallS,
      "catchup_batch_s" -> catchupS, "setup_rounds_s" -> rounds) ++
      (if (trace) Map("live_driver_plus_write_share" ->
        median(samples.toSeq.map(s => (s.driverS + s.writeS) / s.wallS))) else Map.empty)

    if (trace) {
      val ev = sizes.sum.toDouble
      def med(f: Trace.Sample => Double) = median(samples.toSeq.map(f))
      layer ++= Map(
        "streaming.jobs_per_batch" -> med(_.spark.jobs.toDouble),
        "streaming.tasks_per_batch" -> med(_.spark.tasks.toDouble),
        "streaming.driver_s" -> med(_.driverS),
        "streaming.sink_writes_per_batch" -> med(_.sinkWrites.toDouble),
        "sinks.rows_written_per_event" -> samples.map(_.spark.outRecords).sum / ev,
        "sinks.bytes_written_per_batch" -> med(_.spark.outBytes.toDouble),
        "sinks.write_s" -> med(_.writeS),
        "sinks.commit_fs_ops_per_batch" -> med(_.fsOps.toDouble),
        "sinks.commit_fs_s" -> med(_.fsS),
        "operators.shuffle_bytes_per_batch" -> med(_.spark.shuffleBytes.toDouble),
        "sinks.files_per_table" -> parquetFiles(sink.tablePath(src)).toDouble)
    }
    val attempted = Keys.toLong + CatchupBatches * CatchupSize + fresh.size
    Result(attempted, bad, report, layer.toMap, health, tracer.toSeq.flatMap(_.spansJson))
  }
}
