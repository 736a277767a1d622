package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The percentile reported for `p` over `n` samples: `p` itself when
    * at least 10 samples lie beyond it, else the highest percentile that
    * has 10 beyond (0, the minimum, when there are 10 samples or fewer).
    */
  def supported(p: Double, n: Int): Double = math.max(0.0, math.min(p, 100.0 * (1 - 10.0 / n)))

  /** Latency `name` at the supported percentile for `p`, and `name.pct`,
    * the percentile it is.
    */
  def latency(name: String, ms: Seq[Double], p: Double): Seq[(String, Metric)] = {
    val q = supported(p, ms.size)
    Seq(name -> Metric(percentile(ms, q), "ms"), s"$name.pct" -> Metric(q, "%"))
  }

  /** Metrics every workload reports. Failed ops count in the latency
    * samples too: a failure does not make the loop faster.
    */
  def endToEnd(recs: Seq[Rec], seconds: Double): Map[String, Metric] = {
    val ms = recs.map(_.ms)
    ListMap("ops_per_s" -> Metric(recs.size / seconds, "1/s")) ++
      latency("p50_ms", ms, 50) ++ latency("p90_ms", ms, 90) ++ Seq(
        "failed_frac" -> Metric(recs.count(!_.ok).toDouble / recs.size, "ratio"),
        "samples" -> Metric(recs.size.toDouble, "count"))
  }

  /** Read and write latency split, for the workloads that write. */
  def readWrite(recs: Seq[Rec]): Map[String, Metric] = {
    val (w, r) = recs.partition(_.write)
    ListMap.from(Seq("read" -> r, "write" -> w).flatMap { case (side, rs) =>
      val ms = rs.map(_.ms)
      latency(s"${side}_p50_ms", ms, 50) ++ latency(s"${side}_p90_ms", ms, 90) :+
        (s"${side}_samples" -> Metric(rs.size.toDouble, "count"))
    })
  }

  /** The JVM's peak resident set (VmHWM), Linux only. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}

/** The per-layer metrics of a traced loop. Every workload reports the
  * whole set; a layer the workload does not exercise reads 0.
  */
object Layers {
  /** Operator ids the benchmark drives through `SparkEntry.queries`. */
  val SqlOps = Seq("resample_ohlcv", "join_asof", "win_rolling_time", "sessionize",
    "agg_hash", "join_inner")
  val LlmStages = Seq("text_normalize", "text_quality", "dedup_exact", "dedup_minhash",
    "dedup_ngram", "dedup_semantic", "sim_ann_ivf", "text_bpe_encode")

  /** Metric name -> span name; the metric is the mean ms per call. */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "store.query.build_ms" -> "store.query.build",
    "store.queryMany.build_ms" -> "store.queryMany.build",
    "store.read.action_ms" -> "store.read.action",
    "store.appendNewOnly.ms" -> "store.appendNewOnly",
    "store.append.ms" -> "store.append",
    "store.compactBuckets.ms" -> "store.compactBuckets",
    "v2.exec_ms" -> "v2.exec",
    "v2.insert.ms" -> "v2.insert") ++
    (SqlOps ++ LlmStages).flatMap(id =>
      Seq(s"op.$id.build_ms" -> s"op.$id.build", s"op.$id.exec_ms" -> s"op.$id.exec"))

  val SelfLayers = Seq("bench", "store", "v2", "operators", "spark")

  private val SparkCounts = Seq(
    "jobs" -> "count/op", "stages" -> "count/op", "tasks" -> "count/op",
    "tasks_failed" -> "count/op", "task_run_ms" -> "ms/op", "task_cpu_ms" -> "ms/op",
    "sched_delay_ms" -> "ms/op", "deser_ms" -> "ms/op", "gc_ms" -> "ms/op",
    "input_bytes" -> "bytes/op", "input_rows" -> "rows/op",
    "shuffle_read_bytes" -> "bytes/op", "shuffle_write_bytes" -> "bytes/op",
    "spill_bytes" -> "bytes/op", "output_bytes" -> "bytes/op")

  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  def metrics(t: Tracer, l: JobListener, recs: Seq[Rec], windowMs: Double,
      self: Map[String, Double]): Seq[(String, Metric)] = {
    val ops = math.max(1, recs.size).toDouble
    val m = mutable.LinkedHashMap.empty[String, Metric]
    SpanMetrics.foreach { case (metric, span) =>
      m(metric) = Metric(Stats.mean(t.durations.getOrElse(span, Nil)), "ms")
    }
    def c(k: String) = t.counters.getOrElse(k, 0.0)
    val statements = c("v2.statements")
    Seq("parse", "analysis", "optimization", "planning").foreach { ph =>
      m(s"v2.${ph}_ms") = Metric(ratio(c(s"v2.${ph}_ms"), statements), "ms")
    }
    m("v2.files_read_frac") = Metric(ratio(c("v2.files_read"), c("v2.files_in_items")), "ratio")
    m("plans.footer_answered_frac") =
      Metric(ratio(c("plans.footer_answered"), c("plans.footer_eligible")), "ratio")
    m("store.write_amp") = Metric(ratio(c("store.new_file_bytes"), c("store.user_bytes")), "ratio")
    m("store.compactBuckets.buckets_rewritten") = Metric(
      ratio(c("store.buckets_rewritten"), t.durations.get("store.compactBuckets").fold(0)(_.size)),
      "buckets/call")
    val scanned = t.resultRowsByOp.keys.toSeq.map(l.inputRowsByOp(_)).sum
    m("store.scan_rows_per_result_row") = Metric(ratio(scanned, t.resultRowsByOp.values.sum), "ratio")
    SparkCounts.foreach { case (k, unit) => m(s"spark.$k") = Metric(l.totals(k) / ops, unit) }
    m("spark.driver_ms") = Metric((windowMs - self.getOrElse("spark", 0.0)) / ops, "ms/op")
    SelfLayers.foreach(layer =>
      m(s"layer.$layer.self_ms") = Metric(self.getOrElse(layer, 0.0) / ops, "ms/op"))
    // workload-specific counts (Workload.layerCounts) replace these
    m("store.files_per_item") = Metric(0.0, "files")
    m("llm.planted_dup_recall") = Metric(0.0, "ratio")
    m.toSeq
  }
}
