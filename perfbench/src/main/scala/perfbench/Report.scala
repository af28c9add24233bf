package perfbench

import java.util.SplittableRandom

/** One reported number. */
final case class Metric(name: String, unit: String, value: Double)

/** What a workload run hands back to [[Main]]. `metrics` holds the
  * end-to-end metrics of an untraced run or the per-layer metrics of a
  * traced one; `table` is the fuller human-readable breakdown (every
  * per-tool latency the run measured), printed but not part of the
  * contract line.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    metrics: Seq[Metric],
    table: Seq[Metric])

object Stats {
  /** Linear-interpolated percentile (numpy's default) of `xs`. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Percentile or 0 when a layer had no samples in this workload. */
  def pctOr0(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) 0.0 else pct(xs, p)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** CPU time this JVM has used so far, all threads, in ms. Unlike wall
    * time it does not grow when the host runs other guests on our cores.
    */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Bytes of every regular file under `root`. */
  def treeBytes(root: java.io.File): Long =
    if (root.isFile) root.length()
    else Option(root.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
}

/** Zipf(s) over ranks 0 until n (rank 0 hottest), by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  require(n >= 1)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }
  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Minimal JSON writer: numbers through `Double.toString`, which is
  * locale-independent by specification (a `%f` format is not).
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}

/** The per-layer metrics every traced run reports, whatever its workload:
  * a layer the workload does not exercise reads 0. Must list exactly the
  * `per_layer` entries of BENCHMARK.json (run.py checks).
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "spark.jobs_per_call" -> "count",
    "spark.stages_per_call" -> "count",
    "spark.tasks_per_call" -> "count",
    "spark.driver_gap_ms_per_call" -> "ms",
    "spark.task_busy_ms_per_call" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.files_read_per_call" -> "count",
    "spark.bytes_read_per_call" -> "bytes",
    "spark.shuffle_bytes" -> "bytes") ++
    Seq("exact_dedup", "minhash_lsh", "components", "keep_representatives", "bm25_build",
      "bm25_probe", "ivf_build", "ivf_topk", "pagerank", "kcore")
      .map(s => s"spark.shuffle_bytes.$s" -> "bytes") ++ Seq(
    "store.resolve_ms" -> "ms",
    "store.bytes_written_per_user_byte" -> "ratio",
    "store.live_buckets" -> "count",
    "store.live_bytes" -> "bytes",
    "store.versions" -> "count",
    "store.maintenance_ms" -> "ms",
    "store.maintenance_bytes_rewritten" -> "bytes",
    "store.writes_in_flight_at_start" -> "count",
    "store.search_nodes_p50_ms" -> "ms",
    "store.search_nodes_p90_ms" -> "ms",
    "store.get_entity_p50_ms" -> "ms",
    "store.read_graph_p50_ms" -> "ms",
    "store.create_entities_p50_ms" -> "ms",
    "store.create_relations_p50_ms" -> "ms",
    "store.delete_entity_p50_ms" -> "ms",
    "store.write_p90_ms" -> "ms",
    "ops.search_entities_ms" -> "ms",
    "ops.relations_for_entities_ms" -> "ms",
    "ops.recent_entities_ms" -> "ms",
    "ops.hydrate_ms" -> "ms",
    "ops.rows_scanned_per_hit" -> "ratio",
    "pipeline.exact_dedup_s" -> "s",
    "pipeline.minhash_lsh_s" -> "s",
    "pipeline.components_s" -> "s",
    "pipeline.keep_representatives_s" -> "s",
    "pipeline.bm25_build_s" -> "s",
    "pipeline.bm25_probe_s" -> "s",
    "pipeline.ivf_build_s" -> "s",
    "pipeline.ivf_topk_s" -> "s",
    "pipeline.lsh_candidate_precision" -> "ratio",
    "pipeline.ivf_rows_scored_per_query" -> "count",
    "graph.pagerank_s" -> "s",
    "graph.kcore_s" -> "s",
    "graph.kcore_rounds" -> "count",
    "trace.call_p50_ms" -> "ms",
    "trace.listener_ms" -> "ms",
    "trace.spans" -> "count")

  def metrics(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    all.map { case (n, u) => Metric(n, u, values.getOrElse(n, 0.0)) }
  }
}
