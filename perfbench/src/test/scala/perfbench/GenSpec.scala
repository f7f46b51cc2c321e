package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.Gen._

class GenSpec extends AnyFunSuite {

  private def sha(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def foldLines(fold: Fold): Iterator[String] =
    fold.tables.iterator.flatMap { case (t, m) =>
      m.toSeq.sortBy(_._1).iterator.map { case (k, r) => s"$t|$k|${r.toSeq.sortBy(_._1)}" }
    }

  /** Feed lines and final oracle of a small hybrid_stream + multi_table run. */
  private def digest(seed: Long): String = {
    val fold = new Fold
    val orders = new OrdersFeed(seed, 500)
    orders.snapshotEffects.foreach { case Put(k, r) => fold.table(orders.Sink)(k) = r; case _ => () }
    val ordersEvs = Seq.fill(3000)(orders.next())
    ordersEvs.foreach(fold(_))
    val shards = new ShardFeed(seed, 200, 100)
    shards.snapshotEvents.foreach(fold(_))
    val batches = Seq.fill(12)(shards.nextBatch())
    batches.foreach(_._2.foreach(fold(_)))
    val docs = documents(seed, 100)
    sha(orders.snapshot.iterator.map(_.toString) ++ ordersEvs.iterator.map(_.line) ++
      shards.snapshot.iterator.map(_.toString) ++
      batches.iterator.flatMap { case (d, evs) => d.map(_.toString).iterator ++ evs.map(_.line) } ++
      docs.iterator.map(_.toString) ++ foldLines(fold))
  }

  test("the same seed gives a byte-identical feed and oracle; another seed a different one") {
    assert(digest(7) == digest(7))
    assert(digest(7) != digest(8))
  }

  test("a key-changing update deletes the old key and puts the new one") {
    val feed = new OrdersFeed(3, 200)
    val pk = Iterator.continually(feed.next()).take(20000)
      .find(e => e.line.contains("\"op\":\"u\"") && e.effects.exists(_.isInstanceOf[Del])).get
    val del = pk.effects.collectFirst { case Del(k) => k }.get
    val put = pk.effects.collectFirst { case Put(k, r) => (k, r) }
    assert(put.forall(_._1 != del))
    val fold = new Fold
    fold.table("t")(del) = Map("order_id" -> del)
    fold(pk.copy(table = "t"))
    assert(!fold.table("t").contains(del))
    put.foreach { case (k, r) => assert(fold.table("t")(k) == r) }
  }

  test("a delete of an absent key changes nothing") {
    val fold = new Fold
    fold.table("t")(1L) = Map("id" -> 1L)
    fold(Ev("", "t", Seq(Del(99L))))
    assert(fold.table("t").toMap == Map(1L -> Map("id" -> 1L)))
  }

  test("a key repeated within one batch keeps its last image") {
    val fold = new Fold
    fold(Ev("", "t", Seq(Put(5L, Map("id" -> 5L, "v" -> 1)))))
    fold(Ev("", "t", Seq(Put(5L, Map("id" -> 5L, "v" -> 2)))))
    fold(Ev("", "t", Seq(Put(6L, Map("id" -> 6L, "v" -> 3)), Del(6L))))
    assert(fold.table("t").toMap == Map(5L -> Map("id" -> 5L, "v" -> 2)))
  }

  test("a row written before an AddColumn DDL reads the new column as null") {
    val preDdl = Map[String, Any]("id" -> 1L, "v1" -> 3, "tag" -> "red")
    assert(Common.rowMatches(preDdl + ("x0" -> null), preDdl))
    assert(!Common.rowMatches(preDdl + ("x0" -> 4), preDdl))
    // a widened column compares by value: INT in the oracle, BIGINT in the sink
    assert(Common.rowMatches(preDdl ++ Map("x0" -> 4L), preDdl + ("x0" -> 4)))
  }

  test("the filter drops events, and a filtered delete leaves the last kept image") {
    val kept = Map[String, Any]("id" -> 1L, "v1" -> 1, "v2" -> 1, "tag" -> "red")
    val dropped = kept + ("v2" -> 26)
    assert(Shards.transform("items", kept).isDefined)
    assert(Shards.transform("items", dropped).isEmpty)
    assert(Shards.transform("orders", kept).get("v_sum") == 2L)
  }

  test("in-band DDL alternates add and widen of the same column") {
    val ddls = (0 until 12).map(Shards.Ddl)
    ddls.grouped(2).foreach { case Seq(a, w) =>
      assert(!a.widen && w.widen && w.column == a.column && w.db == a.db && w.table == a.table)
    }
    assert(ddls.map(d => (d.db, d.table)).distinct.size == 6)
    val feed = new ShardFeed(1, 50, 10)
    val withDdl = Seq.fill(10)(feed.nextBatch()).map(_._1.isDefined)
    assert(withDdl == Seq(false, false, false, false, true, false, false, false, false, true))
  }
}
