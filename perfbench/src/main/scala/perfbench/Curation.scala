package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import perfbench.Common._

/** `curation_batch`: passes over ten curation queries of
  * `graft.SparkEntry.queries` on a generated documents corpus, each result
  * written as parquet. The last pass's outputs and the queries' oracle SQL
  * are left in `<work>/verify` for the DuckDB oracle check.
  */
object Curation {
  val Queries = Seq("q_bpe_merges", "q_dedup_best_rep", "q_dedup_clusters",
    "q_source_pagerank", "q_split_leakfree", "q_fuzzy_join", "q_fuzzy_join_probe",
    "q_dedup_incremental", "q_dedup_incremental_probe", "q_corpus_curation")
  /** Queries whose DuckDB oracle runs in about a second on this corpus. The
    * MinHash family's oracles replay 128 hash slots in HUGEINT SQL and take
    * minutes, so those outputs are checked by [[properties]] instead (and
    * stay rows-checked by tools/check_oracle.py).
    */
  val FastOracle = Set("q_fuzzy_join", "q_fuzzy_join_probe", "q_source_pagerank",
    "q_corpus_curation")
  val Docs = 1000
  val WarmDocs = 200
  val SetupRounds = 3

  /** Write a corpus as ONE parquet file `<dir>/documents.parquet`. */
  private def writeCorpus(spark: SparkSession, docs: Seq[Gen.Doc], dir: String): Unit = {
    import spark.implicits._
    val tmp = s"$dir/.documents"
    docs.map(d => (d.docId, d.text, d.lang, d.source, d.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles.find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    deleteTree(new java.io.File(tmp))
  }

  private def runQuery(spark: SparkSession, q: String, dir: String, out: String): Unit =
    graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$out/$q")

  /** Cross-checks of the MinHash-family outputs of the last pass; returns
    * the names of the properties that do not hold.
    */
  private def properties(spark: SparkSession, out: String, corpus: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    def read(q: String) = spark.read.parquet(s"$out/$q")
    val clusters = read("q_dedup_clusters")
    val inc = read("q_dedup_incremental")
    val probe = read("q_dedup_incremental_probe").select(inc.columns.map(col).toIndexedSeq: _*)
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), collect_set("doc_id").as("members"))
    val reps = read("q_dedup_best_rep").join(sizes, Seq("cluster_id"), "full_outer")
    val splits = read("q_split_leakfree")
    val docs = spark.read.parquet(s"$corpus/documents.parquet").count()
    Seq(
      // the persisted-index probe answers exactly what the one-shot build does
      "incremental_equals_probe" ->
        (inc.exceptAll(probe).isEmpty && probe.exceptAll(inc).isEmpty),
      // one representative per cluster, drawn from it, with the cluster's size
      "best_rep_per_cluster" -> reps.where(col("n").isNull || col("n_docs").isNull ||
        col("n") =!= col("n_docs") || !array_contains(col("members"), col("rep_doc_id"))).isEmpty,
      // every document lands in exactly one split, and a cluster never straddles two
      "split_covers_corpus" -> (splits.count() == docs &&
        splits.select("doc_id").distinct().count() == docs),
      "split_leak_free" -> splits.join(clusters, "doc_id").groupBy("cluster_id")
        .agg(countDistinct("split").as("k")).where(col("k") > 1).isEmpty,
      "clusters_nonempty" -> !clusters.isEmpty
    ).collect { case (name, false) => name }
  }

  def run(seed: Long, seconds: Int, trace: Boolean, cores: Int, work: String): Result = {
    val docs = Gen.documents(seed, Docs)
    val warmDocs = Gen.documents(seed ^ 0x5eed, WarmDocs)
    val corpus = s"$work/corpus"
    val warm = s"$work/warm"
    Seq(corpus, warm).foreach(d => new java.io.File(d).mkdirs())

    // ---- set-up: session and a warm-up job on its own corpus ----
    val (spark, rounds) = setupRounds(cores, SetupRounds) { (spark, r) =>
      // the corpora are written with the first session; that is input generation
      val generation = if (r > 1) 0.0 else secondsOf {
        writeCorpus(spark, docs, corpus)
        writeCorpus(spark, warmDocs, warm)
      }
      spark.read.parquet(s"$warm/documents.parquet").groupBy("lang", "source").count()
        .write.mode("overwrite").parquet(s"$work/warm-out-$r")
      generation
    }

    val tracer = if (trace) Some(new Trace.Tracer(spark)) else None
    val out = s"$work/verify"
    new java.io.File(out).mkdirs()
    val errors = mutable.LinkedHashMap.empty[String, String]
    // per query: wall seconds and jobs of each pass; per pass: wall and output ready times
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Long)]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val ready = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    do {
      val p0 = System.nanoTime()
      val readyAt = Queries.map { q =>
        val s = try Trace.timed(tracer, q, s"pass${passes.size}")(runQuery(spark, q, corpus, out))
          catch {
            case e: Exception =>
              errors(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
              Trace.wall(())
          }
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ((s.wallS, s.spark.jobs))
        (System.nanoTime() - p0) / 1e9
      }
      passes += (System.nanoTime() - p0) / 1e9
      ready += median(readyAt)
    } while ((System.nanoTime() - t0) / 1e9 < seconds)

    // oracle inputs for the DuckDB check of the last pass
    val oracle = graft.SparkEntry.oracleSql.filter { case (q, _) => FastOracle.contains(q) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json(oracle))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/verify_errors.json"),
      json(errors.toMap))

    val broken = if (errors.nonEmpty) Nil else properties(spark, out, corpus)

    val qWall = Queries.map(q => median(perQuery(q).map(_._1).toSeq))
    val curationS = median(passes.toSeq)
    val report = Map(
      "setup_s" -> M(median(rounds), "s"),
      "curation_s" -> M(curationS, "s"),
      "batch_p50_s" -> M(median(qWall), "s"),
      "batch_p90_s" -> M(pct(qWall, 90), "s"),
      "freshness_p50_s" -> M(median(ready.toSeq), "s"),
      "rows_per_s" -> M(Docs / curationS, "1/s"))
    val layers = if (!trace) Map.empty[String, Double] else Queries.flatMap { q =>
      Seq(s"ops.${q}_s" -> median(perQuery(q).map(_._1).toSeq),
        s"ops.${q}_jobs" -> median(perQuery(q).map(_._2.toDouble).toSeq))
    }.toMap
    val health = Map[String, Any]("passes" -> passes.size, "documents" -> Docs,
      "setup_rounds_s" -> rounds,
      "query_errors" -> errors.size, "broken_properties" -> broken)
    // query errors are counted by the oracle check (verify_errors.json)
    Result(Queries.size.toLong * passes.size, broken.size.toLong, report, layers, health,
      tracer.toSeq.flatMap(_.spansJson))
  }
}
