package graft.sinks

import graft.SparkSpec
import graft.model.{CdcSchema, CreateTableEvent, TableId}
import graft.operators.Changelog
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Property: after every batch of a random changelog stream, what
  * [[ParquetUpsertSink]] reads equals the fold of the same batches through
  * [[ValuesSink]] — whether the batch was appended as a delta run or
  * compacted into the base.
  */
class ParquetSinkEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val id = TableId.of("db", "t")
  private val schema = CdcSchema.of("id" -> "BIGINT", "v" -> "STRING").copy(primaryKeys = Seq("id"))

  /** One source change as (key, op) events: an upsert, a delete (of a key
    * that may be absent), or a key-changing update (delete the old key,
    * write the new one).
    */
  private val key = Gen.choose(0L, 11L)
  private val upsert = Gen.zip(key, Gen.oneOf("INSERT", "UPDATE")).map(Seq(_))
  private val change: Gen[Seq[(Long, String)]] = Gen.frequency(
    5 -> upsert,
    2 -> key.map(k => Seq(k -> "DELETE")),
    1 -> Gen.zip(key, key).map { case (a, b) => Seq(a -> "DELETE", b -> "UPDATE") })

  /** Six to eight batches, the first of at most two upserts: every later
    * batch appends at least one delta row, so the deltas reach the base's
    * row count and force a compaction. The last batch is replayed.
    */
  private val stream: Gen[Seq[Seq[(Long, String)]]] = for {
    first <- Gen.choose(1, 2).flatMap(Gen.listOfN(_, upsert))
    n <- Gen.choose(5, 7)
    rest <- Gen.listOfN(n, Gen.choose(1, 6).flatMap(Gen.listOfN(_, change)))
  } yield (first +: rest).map(_.flatten)

  /** Replays `batches` into both sinks; returns the number of writes that
    * compacted, or fails on the first batch after which the sinks differ.
    */
  private def replay(buckets: Int, batches: Seq[Seq[(Long, String)]]): Int = {
    val sink = new ParquetUpsertSink(java.nio.file.Files.createTempDirectory("graft-equiv").toString, buckets)
    val db = new ValuesDatabase
    db.apply(CreateTableEvent(id, schema))
    val oracle = new ValuesSink(db)
    var seq = 0L
    val frames = batches.map { events =>
      events.map { case (k, op) => seq += 1; (k, s"v$seq", op, seq) }
        .toDF("id", "v", Changelog.OpCol, Changelog.SeqCol)
    }
    (frames :+ frames.last).zipWithIndex.count { case (df, i) =>
      sink.write(id, df, schema)
      oracle.write(id, df, schema)
      val got = sink.read(spark, id).as[(Long, String)].collect().toSet
      val want = db.results(id).map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[String])).toSet
      assert(got === want, s"after batch $i of $batches at $buckets buckets")
      i > 0 && sink.manifest(spark, id).get.deltaRows == 0L
    }
  }

  for (buckets <- Seq(1, 4)) test(s"reads equal the ValuesSink fold after every batch, $buckets bucket(s)") {
    var compactions = 0
    val prop = Prop.forAllNoShrink(stream) { batches =>
      val c = replay(buckets, batches)
      compactions += c
      c >= 1
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(4).withWorkers(1)
      .withInitialSeed(Seed(buckets.toLong))
    val result = Test.check(params, prop)
    assert(result.passed, result.status.toString)
    info(s"${result.succeeded} streams, $compactions compacting writes")
  }
}
