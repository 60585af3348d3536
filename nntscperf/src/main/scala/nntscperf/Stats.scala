package nntscperf

/** Percentiles, the contention sentinel and the output line. */
object Stats {

  /** Percentiles the benchmark knows, lowest first. */
  val Levels = Seq(50.0, 90.0, 99.0, 99.9)

  /** Nearest-rank index of percentile `p` among `n` sorted samples. */
  def rank(n: Int, p: Double): Int = math.max(0, math.ceil(p / 100.0 * n - 1e-9).toInt - 1)

  /** A percentile is reported only with at least 10 samples beyond it. */
  def reportable(n: Int, p: Double): Boolean = n > 0 && n - 1 - rank(n, p) >= 10

  /** Percentile `p` of `xs`, or None when fewer than 10 samples lie beyond it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (!reportable(xs.size, p)) None
    else Some(xs.sorted.apply(rank(xs.size, p)))

  /** The highest reportable level and its value. */
  def highest(xs: Seq[Double]): Option[(Double, Double)] =
    Levels.filter(reportable(xs.size, _)).lastOption.map(p => p -> percentile(xs, p).get)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Fixed CPU work (SHA-256 over 8 MiB), timed in ms. A reading well
    * above its usual value means the machine was busy with something else.
    */
  def sentinelMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = Array.tabulate[Byte](1 << 20)(_.toByte)
    val t = System.nanoTime()
    var i = 0
    while (i < 8) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t) / 1e6
  }

  /** A metric as printed: its value and unit. */
  final case class Metric(value: Double, unit: String)

  /** The result line, last on stdout: exactly the declared metrics of its kind. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Metric)]): String = {
    val named = metrics.map { case (n, m) => n -> m.unit }
    require(Seq(Metrics.EndToEnd, Metrics.PerLayer, Metrics.PerLayer ++ Metrics.LiveLayers).contains(named),
      s"metrics ${metrics.map(_._1)} are not a declared set")
    json(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case Metric(value, unit) => s"""{"value":${json(value)},"unit":${json(unit)}}"""
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${json(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}

/** The metrics of the result line, as BENCHMARK.json declares them. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "requests_per_s" -> "1/s", "request_p50_ms" -> "ms")

  /** Per-layer metrics of every workload. */
  val PerLayer: Seq[(String, String)] = Seq(
    "serve.service_ms_p50" -> "ms",
    "serve.wire_ms_p50" -> "ms",
    "serve.reply_bytes_per_request" -> "count",
    "query.plan_ms_p50" -> "ms",
    "query.jobs_per_request" -> "count",
    "query.tasks_per_request" -> "count",
    "query.task_ms_per_request" -> "ms",
    "query.shuffle_bytes_per_request" -> "count",
    "rollup.tier_hit_ratio" -> "1",
    "rollup.tier_rows_read_per_request" -> "count",
    "rollup.tier_files" -> "count",
    "storage.rows_scanned_per_row_returned" -> "1",
    "storage.files_scanned_per_request" -> "count",
    "storage.bytes_read_per_request" -> "count",
    "storage.data_files" -> "count",
    "jvm.gc_ms_per_s" -> "ms/s",
    "spark.core_utilisation" -> "1")

  /** Per-layer metrics only the live workload has, printed after [[PerLayer]]. */
  val LiveLayers: Seq[(String, String)] = Seq(
    "serve.live_delivery_ms_p50" -> "ms",
    "rollup.append_ms_per_batch" -> "ms",
    "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.offset_ms_p50" -> "ms",
    "streaming.planning_ms_p50" -> "ms",
    "streaming.backlog_files_max" -> "count",
    "ingest.ingest_batch_ms" -> "ms",
    "ingest.live_publish_ms" -> "ms",
    "ingest.marker_ms" -> "ms")
}
