package perfbench

import scala.collection.mutable

/** Deterministic input generators and the independent oracle fold.
  *
  * Everything here is plain Scala (no Spark): the feed is a sequence of
  * debezium-json lines, and the [[Fold]] replays the same events into the
  * table image the sink must end with. The fold is written from the wire
  * semantics, not from the engine's code: per key the last image wins, a
  * delete removes the key, a key-changing update deletes the old key, a
  * filtered-out image is dropped, columns absent from an image are null.
  */
object Gen {

  /** One sink-side effect of an event, after transform: put or delete a key. */
  sealed trait Effect
  final case class Put(key: Long, row: Map[String, Any]) extends Effect
  final case class Del(key: Long) extends Effect

  /** A feed line plus the sink effects it must have (empty for control lines). */
  final case class Ev(line: String, table: String, effects: Seq[Effect])

  /** Expected sink image per table: key -> row (column name -> value). A
    * column a row does not carry (added by DDL after the row was written,
    * or only present on the other shard of a merge) reads as null.
    */
  final class Fold {
    val tables = mutable.LinkedHashMap.empty[String, mutable.HashMap[Long, Map[String, Any]]]
    def table(t: String): mutable.HashMap[Long, Map[String, Any]] =
      tables.getOrElseUpdate(t, mutable.HashMap.empty)
    def apply(ev: Ev): Unit = {
      val t = table(ev.table)
      ev.effects.foreach {
        case Put(k, row) => t(k) = row
        case Del(k)      => t.remove(k)
      }
    }
  }

  // ---- JSON rendering (values are numbers or plain ascii strings) ----

  private def jsonValue(v: Any): String = v match {
    case null      => "null"
    case s: String => "\"" + s + "\""
    case other     => other.toString
  }

  def jsonRow(row: Seq[(String, Any)]): String =
    row.map { case (k, v) => "\"" + k + "\":" + jsonValue(v) }.mkString("{", ",", "}")

  def debezium(db: String, table: String, op: String, before: Option[Seq[(String, Any)]],
               after: Option[Seq[(String, Any)]], seq: Long): String =
    s"""{"before":${before.fold("null")(jsonRow)},"after":${after.fold("null")(jsonRow)},""" +
      s""""op":"$op","ts_ms":$seq,"source":{"db":"$db","table":"$table"}}"""

  /** Zipf(s) sampler over ranks [0, n) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      var acc = 0.0
      val c = new Array[Double](n)
      var i = 0
      while (i < n) { acc += w(i); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    def sample(rng: java.util.SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Live key set with O(1) add, remove and positional pick. */
  final class KeySet {
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    def size: Int = keys.size
    def add(k: Long): Unit = if (!pos.contains(k)) { pos(k) = keys.size; keys += k }
    def remove(k: Long): Unit = pos.remove(k).foreach { i =>
      val last = keys.remove(keys.size - 1)
      if (i < keys.size) { keys(i) = last; pos(last) = i }
    }
    def at(i: Int): Long = keys(i % keys.size)
  }

  /** Op mix of the change streams: 70% update, 20% insert, 9% delete, 1%
    * key-changing update. Keys are drawn Zipf-skewed over live keys.
    */
  sealed trait OpKind
  case object OpUpdate extends OpKind
  case object OpInsert extends OpKind
  case object OpDelete extends OpKind
  case object OpPkChange extends OpKind

  def pickOp(rng: java.util.SplittableRandom): OpKind = {
    val u = rng.nextInt(100)
    if (u < 70) OpUpdate else if (u < 90) OpInsert else if (u < 99) OpDelete else OpPkChange
  }

  // ======================= hybrid_stream: one orders table ==================

  object Orders {
    val Db = "shop"
    val Table = "orders"
    val Columns: Seq[(String, String)] = Seq(
      "order_id" -> "BIGINT", "customer_id" -> "BIGINT", "status" -> "STRING",
      "amount" -> "BIGINT", "qty" -> "INT")
    /** The pipeline YAML: one transform rule (projection with computed
      * columns + a filter) for every `<db>.orders` table.
      */
    val Yaml: String =
      """source:
        |  type: debezium-json
        |transform:
        |  - source-table: '[a-z]+.orders'
        |    projection: 'order_id, customer_id, UPPER(status) AS status, amount * qty AS total, qty'
        |    filter: 'customer_id % 10 <> 7'
        |sink:
        |  type: parquet-upsert
        |  buckets: auto
        |pipeline:
        |  name: hybrid-stream
        |""".stripMargin
    val Statuses = Array("new", "paid", "shipped", "done", "returned")

    /** Source row -> sink row under the rule, or None when filtered out. */
    def transform(r: Map[String, Any]): Option[Map[String, Any]] = {
      val cust = r("customer_id").asInstanceOf[Long]
      if (cust % 10 == 7) None
      else Some(Map(
        "order_id" -> r("order_id"), "customer_id" -> cust,
        "status" -> r("status").asInstanceOf[String].toUpperCase(java.util.Locale.ROOT),
        "total" -> r("amount").asInstanceOf[Long] * r("qty").asInstanceOf[Int],
        "qty" -> r("qty")))
    }
  }

  /** One source table's change stream: the live keys with their current
    * source image, drawn against by the op mix. Subclasses say how rows are
    * made, updated and re-keyed, and what the sink keeps of an image.
    */
  abstract class SourceTable(val db: String, val table: String, val sink: String,
                             base: Long, keys: Int, rng: java.util.SplittableRandom) {
    def columns: Seq[String]
    def fresh(k: Long): Map[String, Any]
    def update(before: Map[String, Any]): Map[String, Any]
    def rekey(before: Map[String, Any], k: Long): Map[String, Any]
    /** Sink row of a source image under the table's rule (None: filtered out). */
    def transform(r: Map[String, Any]): Option[Map[String, Any]]

    private val zipf = new Zipf(keys, 0.99)
    private val live = new KeySet
    private val rows = mutable.HashMap.empty[Long, Map[String, Any]]
    private var nextKey: Long = base + keys

    /** Snapshot image (seq 0), in key order. Lazy: subclass fields are not
      * initialized while this constructor runs; [[next]] forces it first.
      */
    lazy val snapshot: IndexedSeq[Map[String, Any]] = (0 until keys).map { i =>
      val r = fresh(base + i)
      rows(base + i) = r
      live.add(base + i)
      r
    }

    def snapshotEffects: Seq[Effect] =
      snapshot.zipWithIndex.flatMap { case (r, i) => transform(r).map(Put(base + i, _)) }

    private def ordered(r: Map[String, Any]): Seq[(String, Any)] =
      columns.map(c => c -> r.getOrElse(c, null))
    private def puts(k: Long, r: Map[String, Any]): Seq[Effect] = transform(r).map(Put(k, _)).toSeq
    private def dels(k: Long, before: Map[String, Any]): Seq[Effect] =
      transform(before).map(_ => Del(k)).toSeq
    private def line(op: String, before: Option[Map[String, Any]],
                     after: Option[Map[String, Any]], seq: Long): String =
      debezium(db, table, op, before.map(ordered), after.map(ordered), seq)

    /** The next event at sequence `seq`. */
    def next(seq: Long): Ev = {
      val _ = snapshot
      event(seq)
    }

    private def event(seq: Long): Ev = (if (live.size < 2) OpInsert else pickOp(rng)) match {
      case OpInsert =>
        val k = nextKey; nextKey += 1
        val r = fresh(k)
        rows(k) = r; live.add(k)
        Ev(line("c", None, Some(r), seq), sink, puts(k, r))
      case OpUpdate =>
        val k = live.at(zipf.sample(rng))
        val before = rows(k)
        val after = update(before)
        rows(k) = after
        Ev(line("u", Some(before), Some(after), seq), sink, puts(k, after))
      case OpDelete =>
        val k = live.at(zipf.sample(rng))
        val before = rows.remove(k).get
        live.remove(k)
        Ev(line("d", Some(before), None, seq), sink, dels(k, before))
      case OpPkChange =>
        val k = live.at(zipf.sample(rng))
        val k2 = nextKey; nextKey += 1
        val before = rows.remove(k).get
        val after = rekey(before, k2)
        live.remove(k); live.add(k2); rows(k2) = after
        Ev(line("u", Some(before), Some(after), seq), sink, dels(k, before) ++ puts(k2, after))
    }
  }

  /** The orders change stream: a snapshot of `keys` rows, then events with
    * strictly increasing seq (= `ts_ms`). Stateful: `next()` draws the next
    * event against the current source image.
    */
  final class OrdersFeed(seed: Long, keys: Int, db: String = Orders.Db) {
    import Orders._
    private val rng = new java.util.SplittableRandom(seed)
    private var seq: Long = 0L
    private def customerOf(k: Long): Long = (k * 2654435761L & 0x7fffffffL) % 50000L
    private def changes: Map[String, Any] = Map(
      "status" -> Statuses(rng.nextInt(Statuses.length)),
      "amount" -> (100L + rng.nextInt(100000)), "qty" -> (1 + rng.nextInt(20)))
    private val orders = new SourceTable(db, Table, s"$db.$Table", 0L, keys, rng) {
      val columns: Seq[String] = Columns.map(_._1)
      def fresh(k: Long): Map[String, Any] =
        changes ++ Map("order_id" -> k, "customer_id" -> customerOf(k))
      def update(before: Map[String, Any]): Map[String, Any] = before ++ changes
      // the customer follows the key, so a moved row may change filter side
      def rekey(before: Map[String, Any], k: Long): Map[String, Any] =
        before ++ Map("order_id" -> k, "customer_id" -> customerOf(k))
      def transform(r: Map[String, Any]): Option[Map[String, Any]] = Orders.transform(r)
    }
    /** Fold key of the sink table (no route: the source id). */
    val Sink: String = orders.sink
    def snapshot: IndexedSeq[Map[String, Any]] = orders.snapshot
    def snapshotEffects: Seq[Effect] = orders.snapshotEffects
    def next(): Ev = { seq += 1; orders.next(seq) }
  }

  // ================ multi_table_evolve: 2 shards x 3 tables, DDL ============

  object Shards {
    val Dbs = Seq("shard_0", "shard_1")
    val Tables = Seq("orders", "customers", "items")
    val BaseColumns: Seq[(String, String)] =
      Seq("id" -> "BIGINT", "v1" -> "INT", "v2" -> "INT", "tag" -> "STRING")
    val Tags = Array("red", "green", "blue", "cyan", "amber", "violet")

    /** The pipeline YAML: per-table transform rules and three 2->1 routes. */
    val Yaml: String =
      """source:
        |  type: debezium-json
        |transform:
        |  - source-table: 'shard_[0-9]+.orders'
        |    projection: '\*, v1 + v2 AS v_sum'
        |  - source-table: 'shard_[0-9]+.items'
        |    projection: '\*, UPPER(tag) AS tag_u'
        |    filter: 'v2 % 13 <> 0'
        |route:
        |  - source-table: 'shard_[0-9]+.orders'
        |    sink-table: dw.orders
        |  - source-table: 'shard_[0-9]+.customers'
        |    sink-table: dw.customers
        |  - source-table: 'shard_[0-9]+.items'
        |    sink-table: dw.items
        |sink:
        |  type: parquet-upsert
        |  buckets: auto
        |pipeline:
        |  name: multi-table-evolve
        |  schema.change.behavior: EVOLVE
        |""".stripMargin

    /** Sink row of one source image under that table's rule (None: filtered). */
    def transform(table: String, r: Map[String, Any]): Option[Map[String, Any]] = table match {
      case "orders" =>
        Some(r + ("v_sum" -> (r("v1").asInstanceOf[Number].longValue +
          r("v2").asInstanceOf[Number].longValue)))
      case "items" =>
        if (r("v2").asInstanceOf[Number].longValue % 13 == 0) None
        else Some(r + ("tag_u" -> r("tag").asInstanceOf[String].toUpperCase(java.util.Locale.ROOT)))
      case _ => Some(r)
    }

    /** The k-th in-band DDL: even k adds `x<k/2>` INT to one shard's table,
      * odd k widens that column to BIGINT; pairs rotate over tables and shards.
      */
    final case class Ddl(k: Int) {
      val table: String = Tables((k / 2) % 3)
      val db: String = Dbs((k / 6) % 2)
      val widen: Boolean = k % 2 == 1
      val column: String = s"x${k / 2}"
    }
  }

  /** Two shards x three tables, `keys` keys per source table (disjoint key
    * ranges per shard, so the 2->1 merge never collides), fixed-size batches,
    * every `ddlEvery`-th batch led by an in-band DDL control record.
    */
  final class ShardFeed(seed: Long, keys: Int, batchSize: Int, ddlEvery: Int = 5) {
    import Shards._
    private val rng = new java.util.SplittableRandom(seed)
    private final class Src(db: String, table: String, base: Long)
        extends SourceTable(db, table, s"dw.$table", base, keys, rng) {
      /** DDL-added columns: name -> widened to BIGINT */
      val extra = mutable.LinkedHashMap.empty[String, Boolean]
      def columns: Seq[String] = BaseColumns.map(_._1) ++ extra.keys
      private def value(col: String): Any = col match {
        case "v1" | "v2" => rng.nextInt(1000)
        case "tag" => Tags(rng.nextInt(Tags.length))
        case x => if (extra(x)) 3000000000L + rng.nextInt(1000000) else rng.nextInt(1000000)
      }
      def fresh(k: Long): Map[String, Any] =
        columns.filter(_ != "id").map(c => c -> value(c)).toMap + ("id" -> k)
      def update(before: Map[String, Any]): Map[String, Any] =
        fresh(before("id").asInstanceOf[Long])
      def rekey(before: Map[String, Any], k: Long): Map[String, Any] = before + ("id" -> k)
      def transform(r: Map[String, Any]): Option[Map[String, Any]] = Shards.transform(table, r)
    }
    private val srcs: Seq[Src] = for {
      (db, d) <- Dbs.zipWithIndex; t <- Tables
    } yield new Src(db, t, d * 1000000L)
    private var seq: Long = 0L
    private var batchNo = 0
    private var ddlNo = 0

    /** Snapshot rows per source table (seq 0). */
    def snapshot: Seq[(String, String, IndexedSeq[Map[String, Any]])] =
      srcs.map(s => (s.db, s.table, s.snapshot))

    /** Sink effects of the snapshot, one fold event per source table. */
    def snapshotEvents: Seq[Ev] = srcs.map(s => Ev("", s.sink, s.snapshotEffects))

    /** Next batch: optional leading DDL plus `batchSize` row events. */
    def nextBatch(): (Option[Ddl], Seq[Ev]) = {
      val ddl = if (batchNo % ddlEvery == ddlEvery - 1) Some(Ddl(ddlNo)) else None
      batchNo += 1
      ddl.foreach { d =>
        ddlNo += 1
        srcs.find(x => x.db == d.db && x.table == d.table).get.extra(d.column) = d.widen
      }
      val evs = (0 until batchSize).map { _ =>
        seq += 1
        srcs(rng.nextInt(srcs.size)).next(seq)
      }
      (ddl, evs)
    }
  }

  // ==================== curation_batch: the documents corpus ================

  final case class Doc(docId: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  private val Vocab = Array("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")
  private val Langs = Array("en", "en", "en", "zh", "es", "de", "fr")

  /** A template corpus: 10-99 words over a 30-word vocabulary, 20 sources,
    * five languages, and 5% planted near-duplicates (an earlier document
    * with a " dup" suffix).
    */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = new java.util.SplittableRandom(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 0 && rng.nextInt(100) < 5) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      Doc(i.toLong, text, Langs(rng.nextInt(Langs.length)), s"src${i % 20}")
    }
  }
}
