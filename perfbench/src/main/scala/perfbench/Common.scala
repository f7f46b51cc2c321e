package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Session, statistics, filesystem and result helpers shared by the workloads. */
object Common {

  /** One metric as printed: value and unit. */
  final case class M(value: Double, unit: String)

  /** What a workload hands back to [[Main]]: `report` carries every named
    * metric of the workload (its end-to-end set included), `layers` the
    * per-layer values of a traced run.
    */
  final case class Result(attempted: Long, failed: Long, report: Map[String, M],
                          layers: Map[String, Double], health: Map[String, Any],
                          spans: Seq[String])

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSessions(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())

  def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Set up `rounds` times — each round stops the previous session, starts
    * a fresh one and runs `round` (pipeline construction + warm-up) — and
    * return the last round's session with every round's time (`setup_s` is
    * their median). `round` returns seconds it spent on input generation,
    * which are not set-up time.
    */
  def setupRounds(cores: Int, rounds: Int)(
      round: (SparkSession, Int) => Double): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to rounds).map { r =>
      stopSessions()
      var excluded = 0.0
      secondsOf {
        spark = session(cores)
        excluded = round(spark, r)
      } - excluded
    }
    (spark, times)
  }

  /** Linear-interpolation percentile (p in [0, 100]) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Write lines to a new text file (input generation: feeds and snapshots
    * reach the pipeline as files, the way a connector's landing dir would).
    */
  def writeLines(path: String, lines: Iterator[String]): String = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    path
  }

  /** A raw feed batch: one `value: STRING` row per debezium-json line. */
  def feedFrame(spark: SparkSession, path: String): DataFrame = spark.read.text(path)

  /** A snapshot image written as CSV with `schema`'s column order. */
  def writeCsv(path: String, cols: Seq[String], rows: Iterator[Map[String, Any]]): String =
    writeLines(path, rows.map(r => cols.map(c => String.valueOf(r(c))).mkString(",")))

  def readCsv(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).csv(path)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  private def files(root: java.io.File): Seq[java.io.File] =
    if (root.isDirectory) Option(root.listFiles).toSeq.flatten.flatMap(files)
    else if (root.isFile) Seq(root) else Nil

  /** Bytes on disk under a directory (all files, checksums included). */
  def dirBytes(path: String): Long = files(new java.io.File(path)).map(_.length).sum

  def parquetFiles(path: String): Int =
    files(new java.io.File(path)).count(_.getName.endsWith(".parquet"))

  private def norm(v: Any): Any = v match {
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Long    => n.longValue
    case n: java.lang.Short   => n.longValue
    case other                => other
  }

  /** Does a sink row (its columns by name) equal the oracle row? A column
    * either side lacks reads as null; integral numbers compare by value, so
    * a widened INT -> BIGINT column still matches.
    */
  def rowMatches(sink: Map[String, Any], expected: Map[String, Any]): Boolean =
    (sink.keySet ++ expected.keySet).forall(c =>
      norm(sink.getOrElse(c, null)) == norm(expected.getOrElse(c, null)))

  /** Mismatched rows between the sink image and the oracle fold: keys on
    * one side only, duplicated keys, and keys whose rows differ.
    */
  def mismatches(sink: DataFrame, pk: String,
                 expected: mutable.HashMap[Long, Map[String, Any]]): Long = {
    val cols = sink.columns.toSeq
    val seen = mutable.HashSet.empty[Long]
    var bad = 0L
    sink.collect().foreach { r: Row =>
      val k = r.getAs[Number](pk).longValue
      val ok = seen.add(k) && expected.get(k).exists(e =>
        rowMatches(cols.map(c => c -> r.getAs[Any](c)).toMap, e))
      if (!ok) bad += 1
    }
    bad + expected.keys.count(k => !seen.contains(k))
  }

  // ---- JSON output (flat objects of numbers, strings, booleans) ----

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: M => s"""{"value":${json(m.value)},"unit":${json(m.unit)}}"""
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
