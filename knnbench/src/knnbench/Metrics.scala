package knnbench

/** Every metric the benchmark prints, with its unit. BENCHMARK.json lists
  * the same names; the smoke test checks that they agree. */
object Metrics {

  /** Printed by untraced runs (`--trace 0`), on every workload. What the
    * workload's "request" and "throughput" are is in NOTES.md. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "request_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s",
    "quality" -> "ratio",
    "peak_rss_mb" -> "MB")

  /** Printed by traced runs (`--trace 1`), on every workload; a layer the
    * workload does not use reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "client.read_p50_ms" -> "ms",
    "embed.query_ms" -> "ms",
    "embed.batch_ms" -> "ms",
    "sources.copy_s" -> "s",
    "sources.insert_ms" -> "ms",
    "sources.bytes_per_user_byte" -> "ratio",
    "sources.dup_id_rows" -> "count",
    "plans.parse_ms" -> "ms",
    "plans.optimize_ms" -> "ms",
    "plans.optimize_jobs" -> "count",
    "index.build_s" -> "s",
    "index.build_jobs" -> "count",
    "index.build_task_s" -> "s",
    "index.exec_ms" -> "ms",
    "index.exec_tasks" -> "count",
    "index.mb_read_per_query" -> "MB",
    "index.rows_per_result" -> "ratio",
    "index.append_ms" -> "ms",
    "index.append_jobs" -> "count",
    "index.lists_files" -> "count",
    "index.bytes_per_user_byte" -> "ratio",
    "functions.exact_knn_ms" -> "ms",
    "operators.dedup_clean_clusters_s" -> "s",
    "operators.dedup_minhash_s" -> "s",
    "operators.shuffle_mb" -> "MB",
    "operators.spill_mb" -> "MB",
    "operators.peak_exec_mem_mb" -> "MB",
    "operators.task_s" -> "s",
    "operators.sched_delay_s" -> "s",
    "operators.minhash_pairs" -> "count",
    "jvm.gc_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolation percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = rank.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  val MB: Double = 1024.0 * 1024.0
}
