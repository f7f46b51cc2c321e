package graft.sinks

import graft.SparkSpec
import graft.model.{AddColumnEvent, AlterColumnTypeEvent, CdcSchema, TableId, TruncateTableEvent}
import graft.operators.Changelog
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, raise_error, when, xxhash64}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The manifest commit of [[ParquetUpsertSink]] must be crash-safe by
  * construction: whatever filesystem op a process dies at, a fresh sink
  * reads either the pre-batch or the post-batch state, and replaying the
  * batch converges to the post-batch state with no unreferenced dir left.
  *
  * Deaths are injected through a [[FilterFileSystem]] that fails op k and
  * every op after it, so no cleanup code of the dying commit runs.
  */
class ParquetSinkCommitSpec extends SparkSpec {
  import spark.implicits._

  private val id = TableId.of("db", "t")
  private val schema = CdcSchema.of("id" -> "BIGINT", "v" -> "STRING").copy(primaryKeys = Seq("id"))
  private val intSchema = CdcSchema.of("id" -> "INT", "v" -> "STRING").copy(primaryKeys = Seq("id"))

  private def batch(rows: (Long, String, String, Long)*): DataFrame =
    rows.toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)

  private def intBatch(rows: (Int, String, String, Long)*): DataFrame =
    rows.toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(sink: ParquetUpsertSink): Set[(Long, String)] =
    sink.read(spark, id).as[(Long, String)].collect().toSet

  /** Fails FileSystem op `failAt` (1-based) and every later one: a process
    * death at that op. `ops` counts the ops attempted.
    */
  private final class DyingFs(inner: FileSystem, ops: AtomicInteger, failAt: Int)
      extends FilterFileSystem(inner) {
    private def op[T](f: => T): T =
      if (ops.incrementAndGet() >= failAt) throw new java.io.IOException("injected process death")
      else f
    override def getFileStatus(p: Path): FileStatus = op(super.getFileStatus(p))
    override def listStatus(p: Path): Array[FileStatus] = op(super.listStatus(p))
    override def rename(a: Path, b: Path): Boolean = op(super.rename(a, b))
    override def delete(p: Path, r: Boolean): Boolean = op(super.delete(p, r))
    override def mkdirs(p: Path, perm: FsPermission): Boolean = op(super.mkdirs(p, perm))
    override def open(p: Path, n: Int): FSDataInputStream = op(super.open(p, n))
    override def create(p: Path, perm: FsPermission, overwrite: Boolean, buf: Int, repl: Short,
                        block: Long, prog: Progressable): FSDataOutputStream =
      op(super.create(p, perm, overwrite, buf, repl, block, prog))
  }

  private def dyingSink(root: String, buckets: Int, ops: AtomicInteger, failAt: Int) =
    new ParquetUpsertSink(root, buckets) {
      override protected def hfs(spark: org.apache.spark.sql.SparkSession, path: String): FileSystem =
        new DyingFs(super.hfs(spark, path), ops, failAt)
    }

  /** What a fresh sink reads: column types and rows, or None without state. */
  private def fold(root: String): Option[(Seq[String], Set[Seq[Any]])] =
    try {
      val df = new ParquetUpsertSink(root).read(spark, id)
      Some((df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq,
        df.collect().map(_.toSeq).toSet))
    } catch { case _: java.io.FileNotFoundException => None }

  /** The table dir holds exactly what the newest manifest references. */
  private def assertNoGarbage(root: String): Unit = {
    val sink = new ParquetUpsertSink(root)
    val m = sink.manifest(spark, id).get
    val table = new java.io.File(sink.tablePath(id))
    def names(dir: java.io.File): Set[String] =
      dir.list().filterNot(n => n.startsWith(".") || n == "_SUCCESS").toSet
    assert(names(new java.io.File(table, "_manifest")) === Set(s"${m.version}.json"))
    // base and delta runs alike: every version dir holds exactly the
    // bucket dirs the manifest lists under that version
    val runs = m.runs.groupBy(_._2)
    assert(names(table) === runs.keySet.map(v => s"v$v") + "_manifest")
    runs.foreach { case (v, bs) =>
      assert(names(new java.io.File(table, s"v$v")) === bs.map { case (b, _) => s"__bucket=$b" }.toSet)
    }
  }

  /** Kill `op` at every filesystem op k of its uninjected run, over a copy of
    * the state `setup` leaves; see the class doc for what must hold.
    */
  private def dieAtEveryOp(buckets: Int, setup: ParquetUpsertSink => Unit)
                          (op: ParquetUpsertSink => Unit): ParquetUpsertSink = {
    val template = tmpDir("graft-death")
    setup(new ParquetUpsertSink(template, buckets))
    val pre = fold(template)
    def copy(): String = {
      val root = tmpDir("graft-death-k")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(template), new java.io.File(root))
      root
    }
    val clean = copy()
    val n = new AtomicInteger
    op(dyingSink(clean, buckets, n, Int.MaxValue))
    val post = fold(clean)
    assert(post !== pre, "the operation under test must change the state")
    assertNoGarbage(clean)
    info(s"uninjected run: ${n.get} filesystem ops")
    for (k <- 1 to n.get) {
      val root = copy()
      val e = intercept[java.io.IOException](op(dyingSink(root, buckets, new AtomicInteger, k)))
      assert(e.getMessage === "injected process death", s"op $k")
      val seen = fold(root)
      assert(seen === pre || seen === post, s"death at op $k of ${n.get} exposed a third state")
      op(new ParquetUpsertSink(root, buckets)) // replay
      assert(fold(root) === post, s"replay after death at op $k of ${n.get}")
      assertNoGarbage(root)
    }
    new ParquetUpsertSink(clean, buckets)
  }

  /** Bucket of each BIGINT id at modulus 4. */
  private def bucketOf(ids: Seq[Long]): Map[Long, Int] =
    ids.toDF("id").select(col("id"), pmod(xxhash64(col("id")), lit(4L)).cast("int"))
      .as[(Long, Int)].collect().toMap

  private def fourBucketState(sink: ParquetUpsertSink): Unit =
    sink.write(id, batch((1L to 6L).map(i => (i, s"a$i", "INSERT", i)): _*), schema)

  private val b4 = bucketOf(1L to 60L)
  /** Six keys outside bucket 0, and a key inside it. */
  private val baseKeys = (1L to 60L).filter(b4(_) != 0).take(6)
  private val loneKey = (1L to 60L).find(b4(_) == 0).get

  private def deltas(sink: ParquetUpsertSink): Seq[Seq[Long]] =
    sink.manifest(spark, id).get.live.values.map(_.deltas).toSeq

  /** A 4-bucket base of `baseKeys` (bucket 0 empty), then one delta run that
    * updates a base key and gives bucket 0 its only row: bucket 0 has a
    * delta run and no base run.
    */
  private def pendingDeltaState(sink: ParquetUpsertSink): Unit = {
    sink.write(id, batch(baseKeys.map(i => (i, s"a$i", "INSERT", i)): _*), schema)
    sink.write(id, batch((baseKeys.head, "u", "UPDATE", 100L), (loneKey, "lone", "INSERT", 101L)), schema)
    val m = sink.manifest(spark, id).get
    assert(m.live(0) === ParquetUpsertSink.Runs(None, Seq(m.version)), "bucket 0: a delta, no base")
  }

  test("process death at every FS op: 4-bucket merge emptying a bucket") {
    val lone = 1L
    val b = bucketOf(1L to 40L)
    val others = (2L to 40L).filter(b(_) != b(lone)).take(7)
    dieAtEveryOp(4, _.write(id, batch((lone +: others.take(6)).map(i => (i, s"a$i", "INSERT", i)): _*),
      schema)) { sink =>
      sink.write(id, batch(
        (others.head, "upd", "UPDATE", 100L),
        (others(6), "new", "INSERT", 101L),
        (lone, s"a$lone", "DELETE", 102L)), schema)
    }
  }

  test("process death at every FS op: delta append whose delete empties a delta-only bucket") {
    val sink = dieAtEveryOp(4, pendingDeltaState) {
      _.write(id, batch((loneKey, "lone", "DELETE", 200L), (baseKeys(1), "u2", "UPDATE", 201L)), schema)
    }
    assert(deltas(sink).map(_.size).sum === 4, "two appends of two buckets each, no compaction")
  }

  test("process death at every FS op: compaction commit") {
    // the second delta run brings the recorded delta rows (2 + 4) up to the
    // base rows (6), so the next write compacts
    val sink = dieAtEveryOp(4, { s =>
      pendingDeltaState(s)
      s.write(id, batch(baseKeys.drop(1).take(4).map(i => (i, s"b$i", "UPDATE", 300L + i)): _*), schema)
    }) {
      _.write(id, batch((loneKey, "lone", "DELETE", 400L), (99L, "new", "INSERT", 401L)), schema)
    }
    val m = sink.manifest(spark, id).get
    assert(deltas(sink).forall(_.isEmpty) && m.baseRows === 7L && m.deltaRows === 0L)
  }

  test("process death at every FS op: AddColumn over pending deltas") {
    val sink = dieAtEveryOp(4, pendingDeltaState)(_.applySchemaChange(AddColumnEvent(id, "w", IntegerType)))
    assert(sink.read(spark, id).where(col("id") === loneKey).count() === 1L,
      "the row of the bucket without a base survives the rewrite")
    assert(deltas(sink).forall(_.isEmpty))
  }

  test("process death at every FS op: first write of an AutoBuckets table") {
    dieAtEveryOp(ParquetUpsertSink.AutoBuckets, _ => ()) {
      _.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)
    }
  }

  test("process death at every FS op: AddColumn rewrite") {
    dieAtEveryOp(4, fourBucketState)(_.applySchemaChange(AddColumnEvent(id, "w", IntegerType)))
  }

  test("process death at every FS op: primary-key widening rewrite") {
    dieAtEveryOp(4, _.write(id, intBatch((1 to 8).map(i => (i, s"a$i", "INSERT", i.toLong)): _*),
      intSchema))(_.applySchemaChange(AlterColumnTypeEvent(id, "id", LongType)))
  }

  test("process death at every FS op: truncate") {
    dieAtEveryOp(4, fourBucketState)(_.applySchemaChange(TruncateTableEvent(id)))
  }

  test("widening a bucketed primary key keeps one live row per key") {
    // INT and BIGINT keys hash differently: 6 of keys 1..8 change bucket at
    // modulus 4, so the rewrite must re-derive buckets or later merges prune
    // to the new buckets and leave the old images live
    val root = tmpDir("graft-widen")
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, intBatch((1 to 8).map(i => (i, s"a$i", "INSERT", i.toLong)): _*), intSchema)
    sink.applySchemaChange(AlterColumnTypeEvent(id, "id", LongType))
    sink.write(id, batch((1L to 8L).map(i => (i, s"u$i", "UPDATE", 100L + i)): _*), schema)
    assert(rows(sink) === (1L to 8L).map(i => (i, s"u$i")).toSet)
  }

  test("a failed Spark job inside the write is never read as live") {
    // the throwing expression fails the append's Spark job (the shuffle of
    // the batch by bucket) before any manifest is published
    val root = tmpDir("graft-jobfail")
    val sink = new ParquetUpsertSink(root)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b0", "INSERT", 2L), (4L, "d", "INSERT", 2L)), schema)
    sink.write(id, batch((2L, "b", "UPDATE", 3L), (4L, "d", "DELETE", 3L)), schema)
    assert(deltas(sink) === Seq(Seq(2L)), "the failing write appends to a pending delta")
    val next = batch((1L, "a2", "UPDATE", 3L), (3L, "c", "INSERT", 4L))
    val e = intercept[Exception] {
      sink.write(id, next.withColumn("v",
        when(col("id") === 3L, raise_error(lit("injected job failure"))).otherwise(col("v"))), schema)
    }
    assert(e.toString.contains("injected job failure") ||
      Option(e.getCause).exists(_.toString.contains("injected job failure")))
    assert(rows(new ParquetUpsertSink(root)) === Set((1L, "a"), (2L, "b")))
    sink.write(id, next, schema) // replay
    assert(rows(new ParquetUpsertSink(root)) === Set((1L, "a2"), (2L, "b"), (3L, "c")))
    assertNoGarbage(root)
  }

  /** Writes the first `keep` share of a manifest's bytes, then dies. */
  private final class TearingFs(inner: FileSystem, keep: Double) extends FilterFileSystem(inner) {
    override def create(p: Path, perm: FsPermission, overwrite: Boolean, buf: Int, repl: Short,
                        block: Long, prog: Progressable): FSDataOutputStream = {
      val out = super.create(p, perm, overwrite, buf, repl, block, prog)
      if (!p.getParent.getName.equals("_manifest")) out
      else new FSDataOutputStream(new java.io.OutputStream {
        override def write(b: Int): Unit = throw new java.io.IOException("injected tear")
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          out.write(b, off, (len * keep).toInt)
          throw new java.io.IOException("injected tear")
        }
        override def close(): Unit = out.close()
      }, null)
    }
  }

  test("a manifest torn halfway through writing is never read as live") {
    for (keep <- Seq(0.0, 0.5)) {
      val root = tmpDir("graft-torn")
      val sink = new ParquetUpsertSink(root, buckets = 4)
      sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b0", "INSERT", 2L), (4L, "d", "INSERT", 2L)), schema)
      sink.write(id, batch((2L, "b", "UPDATE", 3L), (4L, "d", "DELETE", 3L)), schema)
      assert(deltas(sink).flatten.nonEmpty, "the torn write appends to pending deltas")
      val tearing = new ParquetUpsertSink(root, buckets = 4) {
        override protected def hfs(spark: org.apache.spark.sql.SparkSession, path: String): FileSystem =
          new TearingFs(super.hfs(spark, path), keep)
      }
      val next = batch((1L, "a2", "UPDATE", 3L), (3L, "c", "INSERT", 4L))
      intercept[java.io.IOException](tearing.write(id, next, schema))
      val fresh = new ParquetUpsertSink(root, buckets = 4)
      assert(rows(fresh) === Set((1L, "a"), (2L, "b")), s"torn at $keep")
      fresh.write(id, next, schema) // replay overwrites the torn manifest
      assert(rows(new ParquetUpsertSink(root)) === Set((1L, "a2"), (2L, "b"), (3L, "c")))
      assertNoGarbage(root)
    }
  }

  test("AutoBuckets derives the layout from the first batch and pins it in meta") {
    val root = tmpDir("graft-auto")
    val sink = new ParquetUpsertSink(root, buckets = ParquetUpsertSink.AutoBuckets)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)
    val m = sink.manifest(spark, id).get
    assert(m.modulus === 1 && m.keys === Seq("id"), "a 2-row first batch derives a single bucket")
    assert(m.live.keySet === Set(0))

    // a second writer with a DIFFERENT constructor constant must follow the
    // manifest's layout, not prune state with the wrong modulus
    val sink2 = new ParquetUpsertSink(root, buckets = 32)
    sink2.write(id, batch((3L, "c", "INSERT", 3L)), schema)
    assert(rows(sink2) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    val m2 = sink2.manifest(spark, id).get
    assert(m2.modulus === 1 && m2.live.keySet === Set(0),
      "the merge must keep the manifest's 1-bucket layout, not fan out to 32")
  }

  private def withRowsPerBucket[T](n: Int)(f: => T): T = {
    spark.conf.set(ParquetUpsertSink.RowsPerBucketConf, n.toLong)
    try f finally spark.conf.unset(ParquetUpsertSink.RowsPerBucketConf)
  }

  /** Grows a table from 2 to 40 keys in 4-key delta batches; returns the
    * moduli its manifests recorded.
    */
  private def grow(sink: ParquetUpsertSink): Seq[Int] = {
    sink.write(id, batch((1L, "a1", "INSERT", 1L), (2L, "a2", "INSERT", 2L)), schema)
    sink.manifest(spark, id).get.modulus +: (3L to 40L).grouped(4).map { ks =>
      sink.write(id, batch(ks.map(i => (i, s"a$i", "INSERT", i)): _*), schema)
      sink.manifest(spark, id).get.modulus
    }.toSeq
  }

  test("a compaction re-derives an AutoBuckets layout from the recorded row counts") {
    withRowsPerBucket(4) {
      val sink = new ParquetUpsertSink(tmpDir("graft-regrow"), ParquetUpsertSink.AutoBuckets)
      val moduli = grow(sink)
      assert(moduli.head === 1, "2 rows at 4 rows per bucket derive one bucket")
      assert(moduli.last > 1, s"the table outgrew its first layout: $moduli")
      val m = sink.manifest(spark, id).get
      assert(m.derived && m.live.size > 1)
      assert(rows(sink) === (1L to 40L).map(i => (i, s"a$i")).toSet)
    }
  }

  test("a constant-bucket table keeps its modulus through compactions") {
    withRowsPerBucket(4) {
      val sink = new ParquetUpsertSink(tmpDir("graft-const"), buckets = 2)
      assert(grow(sink).toSet === Set(2))
      assert(!sink.manifest(spark, id).get.derived)
      assert(rows(sink) === (1L to 40L).map(i => (i, s"a$i")).toSet)
    }
  }

  test("a read pays a shuffle only while delta runs are pending") {
    val sink = new ParquetUpsertSink(tmpDir("graft-plan"), buckets = 4)
    def plan = sink.read(spark, id).queryExecution.executedPlan.toString
    sink.write(id, batch((1L to 6L).map(i => (i, s"a$i", "INSERT", i)): _*), schema)
    assert(!plan.contains("Exchange"), plan)
    sink.write(id, batch((1L, "u", "UPDATE", 10L), (2L, "b", "DELETE", 11L)), schema)
    assert(plan.contains("Exchange"), plan)
    assert(sink.read(spark, id).columns.toSeq === Seq("id", "v"))
    sink.applySchemaChange(AddColumnEvent(id, "w", IntegerType)) // a DDL rewrite compacts
    assert(!plan.contains("Exchange"), plan)
    assert(sink.read(spark, id).columns.toSeq === Seq("id", "v", "w"))
  }

  test("a manifest of the copy-on-write format reads, and its next write compacts") {
    val root = tmpDir("graft-cow")
    val sink = new ParquetUpsertSink(root, buckets = 4)
    sink.write(id, batch((1L, "a", "INSERT", 1L), (2L, "b", "INSERT", 2L)), schema)
    val m = sink.manifest(spark, id).get
    // the previous format: no layout flag, no row counts, one version per bucket
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val file = new java.io.File(s"${sink.tablePath(id)}/_manifest/${m.version}.json")
    val n = json.readTree(file).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    n.remove(java.util.Arrays.asList("derived", "baseRows", "deltaRows"))
    val live = n.putObject("live")
    m.live.foreach { case (b, r) => live.put(b.toString, r.base.get) }
    json.writeValue(file, n)
    new java.io.File(file.getParent, s".${file.getName}.crc").delete() // stale checksum
    assert(rows(sink) === Set((1L, "a"), (2L, "b")))
    sink.write(id, batch((3L, "c", "INSERT", 3L)), schema)
    val next = sink.manifest(spark, id).get
    assert(next.baseRows === 3L && deltas(sink).forall(_.isEmpty))
    assert(rows(sink) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assertNoGarbage(root)
  }

  test("state without a manifest (the older sink format) is refused") {
    val root = tmpDir("graft-oldformat")
    val sink = new ParquetUpsertSink(root, buckets = 4)
    Seq((1L, "a", 0)).toDF("id", "v", "__bucket").write.partitionBy("__bucket").parquet(sink.tablePath(id))
    for (f <- Seq[() => Any](() => sink.write(id, batch((2L, "b", "INSERT", 2L)), schema),
                             () => sink.read(spark, id))) {
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains("recreate the state dir"))
    }
  }
}
