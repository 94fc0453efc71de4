package perfbench

/** The metric names and units the benchmark prints. BENCHMARK.json lists the
  * same names; MetricNamesSpec keeps the two equal. */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "query_s.p50" -> "s", "query_s.p90" -> "s",
    "cpu_s" -> "s")

  /** One span per layer call the workloads make. */
  val spans: Seq[String] = Seq(
    "nfl.ingest", "nfl.metric", "ml.score", "nfl.rankings", "nfl.epa",
    "queries.build", "queries.execute")

  val spanMetrics: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "task_cpu_s" -> "s", "task_run_s" -> "s", "task_wait_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB")

  val inputSpans: Set[String] = Set("nfl.ingest", "queries.build", "queries.execute")

  val extras: Seq[(String, String)] = Seq(
    "queries.jobs_per_query.max" -> "count",
    "pass.storage_held_mb" -> "MB",
    "trace.pass_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  val perLayer: Seq[(String, String)] =
    spans.flatMap { s =>
      spanMetrics.map { case (m, u) => s"$s.$m" -> u } ++
        (if (inputSpans(s)) Seq(s"$s.input_mb" -> "MB") else Nil)
    } ++ extras

  /** Counts that must repeat exactly from pass to pass. */
  val exactCounts: Set[String] = Set("jobs", "stages", "tasks")

  /** Linear-interpolation quantile (numpy's default) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The result line: `values` must hold a value for every name of `names`. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      names: Seq[(String, String)], values: Map[String, Double]): String =
    names.map { case (n, u) => s"${str(n)}: {\"value\": ${num(values(n))}, \"unit\": ${str(u)}}" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
