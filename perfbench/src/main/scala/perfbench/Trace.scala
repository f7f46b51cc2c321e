package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.model.{CdcSchema, SchemaChangeEvent, TableId}
import graft.sinks.{BatchCtx, CdcSink, ParquetUpsertSink}
import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Instruments of the traced run. They sit around the engine's public entry
  * points (listener, sink subclass, sink decorator); none is installed in an
  * untraced run.
  */
object Trace {

  /** Spark-wide counters: jobs, tasks, shuffle-write bytes, output bytes and
    * records. Read through [[Listener.snap]], which drains the bus first.
    */
  final class Listener extends SparkListener {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val shuffleBytes = new AtomicLong
    val outBytes = new AtomicLong
    val outRecords = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        outBytes.addAndGet(m.outputMetrics.bytesWritten)
        outRecords.addAndGet(m.outputMetrics.recordsWritten)
      }
      ()
    }
    def snap(spark: SparkSession): Counts = {
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      Counts(jobs.get, tasks.get, shuffleBytes.get, outBytes.get, outRecords.get)
    }
  }

  final case class Counts(jobs: Long, tasks: Long, shuffleBytes: Long, outBytes: Long,
                          outRecords: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
      shuffleBytes - o.shuffleBytes, outBytes - o.outBytes, outRecords - o.outRecords)
  }

  /** One measured call: wall time plus every counter's delta over it. */
  final case class Sample(wallS: Double, spark: Counts, sinkWrites: Long, writeS: Double,
                          ddlS: Double, coveredS: Double, fsOps: Long, fsS: Double) {
    /** Wall time outside any sink call: the pipeline's own driver work. */
    def driverS: Double = wallS - coveredS
  }

  /** Untraced measurement: wall time only. */
  def wall(f: => Unit): Sample = {
    val t0 = System.nanoTime()
    f
    Sample((System.nanoTime() - t0) / 1e9, Counts(0, 0, 0, 0, 0), 0, 0, 0, 0, 0, 0)
  }

  /** Measure `f` as a span of `tracer` when tracing, else its wall time only. */
  def timed(tracer: Option[Tracer], name: String, phase: String)(f: => Unit): Sample =
    tracer.fold(wall(f))(_.measure(name, phase)(f))

  /** Driver-side FS operations of the sink's commit protocol. */
  final class FsCounters {
    val ops = new AtomicLong
    val nanos = new AtomicLong
    def timed[T](f: => T): T = {
      val t0 = System.nanoTime()
      try f finally { ops.incrementAndGet(); nanos.addAndGet(System.nanoTime() - t0); () }
    }
  }

  /** Counts and times every primitive FS call the sink makes itself. */
  final class CountingFs(inner: FileSystem, c: FsCounters) extends FilterFileSystem(inner) {
    override def getFileStatus(p: Path): FileStatus = c.timed(super.getFileStatus(p))
    override def listStatus(p: Path): Array[FileStatus] = c.timed(super.listStatus(p))
    override def rename(a: Path, b: Path): Boolean = c.timed(super.rename(a, b))
    override def delete(p: Path, r: Boolean): Boolean = c.timed(super.delete(p, r))
    override def mkdirs(p: Path, perm: FsPermission): Boolean = c.timed(super.mkdirs(p, perm))
    override def open(p: Path, n: Int): org.apache.hadoop.fs.FSDataInputStream =
      c.timed(super.open(p, n))
    override def create(p: Path, perm: FsPermission, overwrite: Boolean, buf: Int,
                        repl: Short, block: Long,
                        prog: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
      c.timed(super.create(p, perm, overwrite, buf, repl, block, prog))
  }

  /** The upsert sink with its FS handle wrapped by [[CountingFs]]. */
  final class CountingSink(root: String, val fs: FsCounters)
      extends ParquetUpsertSink(root, ParquetUpsertSink.AutoBuckets) {
    override protected def hfs(spark: SparkSession, path: String): FileSystem =
      new CountingFs(super.hfs(spark, path), fs)
  }

  /** Times `writeBatch` and `applySchemaChange` of the wrapped sink. Calls
    * may overlap (per-table parallel writes), so besides the per-kind sums it
    * keeps the wall time during which at least one sink call was running.
    */
  final class TimingSink(inner: CdcSink) extends CdcSink {
    val writes = new AtomicLong
    val writeNanos = new AtomicLong
    val ddlNanos = new AtomicLong
    private var active = 0
    private var since = 0L
    private var covered = 0L

    private def enter(): Unit = synchronized {
      if (active == 0) since = System.nanoTime()
      active += 1
    }
    private def exit(): Unit = synchronized {
      active -= 1
      if (active == 0) covered += System.nanoTime() - since
    }
    def coveredNanos: Long = synchronized(covered)

    private def timed(acc: AtomicLong)(f: => Unit): Unit = {
      enter()
      val t0 = System.nanoTime()
      try f finally { acc.addAndGet(System.nanoTime() - t0); exit() }
    }

    override def applySchemaChange(e: SchemaChangeEvent): Unit =
      timed(ddlNanos)(inner.applySchemaChange(e))
    override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit =
      writeBatch(id, changelog, schema, None)
    override def writeBatch(id: TableId, changelog: DataFrame, schema: CdcSchema,
                            ctx: Option[BatchCtx]): Unit = {
      writes.incrementAndGet()
      timed(writeNanos)(inner.writeBatch(id, changelog, schema, ctx))
    }
  }

  /** A sink that discards everything: the [[Tracer]] of a workload without a CDC sink. */
  object NoSink extends CdcSink {
    override def write(id: TableId, changelog: DataFrame, schema: CdcSchema): Unit = ()
  }

  /** One recorded span: a measured call, its phase, and its counters. */
  final case class Span(name: String, phase: String, startNs: Long, endNs: Long, sample: Sample)

  /** Everything a traced workload reads per measured call. Spans stay in
    * memory until [[spansJson]] renders them once, at the end of the run.
    */
  final class Tracer(val spark: SparkSession, val sink: TimingSink = new TimingSink(NoSink),
                     val fs: FsCounters = new FsCounters) {
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    private val origin = System.nanoTime()

    def spansJson: Seq[String] = spans.toSeq.map { s =>
      Common.json(Map("name" -> s.name, "phase" -> s.phase,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "jobs" -> s.sample.spark.jobs, "tasks" -> s.sample.spark.tasks,
        "shuffle_bytes" -> s.sample.spark.shuffleBytes, "output_bytes" -> s.sample.spark.outBytes,
        "output_records" -> s.sample.spark.outRecords, "sink_writes" -> s.sample.sinkWrites,
        "sink_write_s" -> s.sample.writeS, "sink_ddl_s" -> s.sample.ddlS,
        "driver_s" -> s.sample.driverS, "fs_ops" -> s.sample.fsOps, "fs_s" -> s.sample.fsS))
    }

    /** Run `f` as span `name` of `phase`; return its wall time with every counter's delta. */
    def measure(name: String, phase: String)(f: => Unit): Sample = {
      val c0 = listener.snap(spark)
      val (w0, wn0, dn0, cv0) = (sink.writes.get, sink.writeNanos.get, sink.ddlNanos.get, sink.coveredNanos)
      val (f0, fn0) = (fs.ops.get, fs.nanos.get)
      val t0 = System.nanoTime()
      f
      val t1 = System.nanoTime()
      val c1 = listener.snap(spark)
      val s = Sample((t1 - t0) / 1e9, c1 - c0, sink.writes.get - w0, (sink.writeNanos.get - wn0) / 1e9,
        (sink.ddlNanos.get - dn0) / 1e9, (sink.coveredNanos - cv0) / 1e9,
        fs.ops.get - f0, (fs.nanos.get - fn0) / 1e9)
      spans += Span(name, phase, t0, t1, s)
      s
    }
  }

  /** Force a frame through Spark's no-op sink: the full plan runs, nothing
    * is written. Used for the cumulative layer prefixes.
    */
  def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
