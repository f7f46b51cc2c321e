package perfbench

import perfbench.Common._

/** Benchmark entry point: runs one workload in this JVM and writes its result.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> --result <file> [--spans <file>]
  *
  * The result file holds two JSON lines: the workload's full report (every
  * named metric with its unit, plus open-loop and run health fields), then
  * the contract record `{correct, attempted, failed, metrics}`.
  */
object Main {
  /** End-to-end metrics of the result record (untraced runs); every
    * workload's report defines them.
    */
  val EndToEnd: Seq[String] = Seq("setup_s", "batch_p50_s", "freshness_p50_s", "rows_per_s")

  /** Per-layer metrics of traced runs, with units. A layer a workload does
    * not exercise reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.jobs_per_batch" -> "count", "streaming.tasks_per_batch" -> "count",
    "streaming.driver_s" -> "s", "streaming.sink_writes_per_batch" -> "count",
    "sinks.rows_written_per_event" -> "ratio", "sinks.bytes_written_per_batch" -> "B",
    "sinks.write_s" -> "s", "sinks.commit_fs_ops_per_batch" -> "count",
    "sinks.commit_fs_s" -> "s", "sinks.ddl_s" -> "s", "sinks.snapshot_write_s" -> "s",
    "sinks.files_per_table" -> "count",
    "sources.tag_s" -> "s", "sources.decode_s" -> "s", "sources.rows_per_event" -> "ratio",
    "operators.transform_s" -> "s", "operators.materialize_s" -> "s",
    "operators.shuffle_bytes_per_batch" -> "B",
    "pipeline.parse_s" -> "s") ++
    Curation.Queries.flatMap(q => Seq(s"ops.${q}_s" -> "s", s"ops.${q}_jobs" -> "count"))

  def perLayer(values: Map[String, Double]): Map[String, M] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    PerLayer.map { case (n, u) => n -> M(values.getOrElse(n, 0.0), u) }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val run: (Long, Int, Boolean, Int, String) => Result = workload match {
      case "hybrid_stream"      => HybridStream.run
      case "multi_table_evolve" => MultiTable.run
      case "curation_batch"     => Curation.run
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    // the engine's fixed single-thread CPU kernel, timed before and after the
    // workload: a slow run with a slow kernel is a slow host, not a slow engine
    val kernelStart = graft.Calibrate.kernelSec(passes = 3)
    val r = try run(seed, seconds, trace, cores, work) finally stopSessions()
    val kernel = Seq(kernelStart, graft.Calibrate.kernelSec(passes = 3))
    opts.get("spans").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), r.spans.mkString("", "\n", "\n"))
    }
    // a traced run's own end-to-end figures are perturbed by its instruments
    val info = json(Map("workload" -> workload, "seed" -> seed, "trace" -> trace,
      "health" -> (r.health + ("cpu_kernel_s" -> kernel))) ++
      (if (trace) Map.empty else Map("report" -> r.report)))
    val metrics = if (trace) perLayer(r.layers) else EndToEnd.map(n => n -> r.report(n)).toMap
    val line = json(Map("correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> metrics))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("result")), info + "\n" + line + "\n")
    ()
  }
}
