package perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import java.io.File
import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One executed op of the closed loop. */
final case class Rec(kind: String, write: Boolean, ms: Double, ok: Boolean)

/** One op: `run` does the work that is timed and returns the output
  * check, which runs after the clock stops.
  */
final case class Op(kind: String, write: Boolean, run: () => () => Boolean)

final case class Metric(value: Double, unit: String)

/** What the traced loop of a `--trace 1` run recorded. */
final case class TracedLoop(recs: Vector[Rec], seconds: Double, windowMs: Double,
    listener: JobListener, tracer: Tracer)

/** What a workload shares with the loop: the live session (replaced on
  * every set-up) and the tracer (enabled only for the traced loop).
  */
final class Ctx(val seed: Long, val scale: Scale, val work: File) {
  var spark: SparkSession = _
  /** The session, started on first use (input generation needs one only
    * when its inputs are not cached yet).
    */
  def session(): SparkSession = {
    if (spark == null) spark = Main.newSession(this, Map.empty)
    spark
  }
  var tracer: Tracer = new Tracer(false)
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

trait Workload {
  def name: String
  /** Generates (or loads cached) inputs; returns their manifest. */
  def inputs(): Map[String, String]
  /** Session settings the workload needs (e.g. the SQL catalog). */
  def sessionConf: Map[String, String] = Map.empty
  /** Loads the engine state from the inputs into `ctx.spark`. */
  def load(): Unit
  /** Op kinds; the op stream starts with one op of each, which is the
    * warm-up at the end of set-up.
    */
  def kinds: Seq[String]
  def next(): Op
  /** Called as each measured loop starts. */
  def beginLoop(): Unit = ()
  /** The loop may stop only here: every loop runs whole decks (or, on
    * llm_pipeline, whole passes), so every op kind is sampled in the
    * same proportion in every run.
    */
  def atBoundary: Boolean
  /** Checks on the final state; returns failure descriptions. */
  def finalChecks(): Seq[String]
  /** Workload-specific end-to-end metrics. */
  def endToEnd(recs: Seq[Rec], seconds: Double): Map[String, Metric]
  /** Layer counts only the workload can take (the ones not derived
    * from spans or the listener).
    */
  def layerCounts(): Map[String, Metric] = Map.empty
}

/** A fixed mix drawn in shuffled decks: every deck holds each kind
  * exactly `n` times, then the `last` cards in order, so two seeds run
  * the same mix in a different order.
  */
final class Deck(cards: Seq[(String, Int)], rng: SplittableRandom, last: Seq[String] = Nil) {
  private var left = List.empty[String]
  /** Whether the last deck drawn from is used up. */
  def atStart: Boolean = left.isEmpty
  def next(): String = {
    if (left.isEmpty) {
      val a = cards.flatMap { case (k, n) => Seq.fill(n)(k) }.toArray
      for (i <- a.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      left = a.toList ++ last
    }
    val k = left.head
    left = left.tail
    k
  }
}

object Sink {
  /** Runs `df` to completion into Spark's `noop` sink and returns the
    * number of rows it produced (observed on the way, not collected).
    */
  def noop(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }
}

object Main {
  val SetupRepeats = 3
  val Workloads = Seq("tsdb_mixed", "sql_analytics", "llm_pipeline")

  final case class Args(
      workloads: Seq[String], seed: Long, seconds: Double, trace: Boolean,
      scale: Scale, work: File, out: File, fingerprints: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wls = req("workload").split(',').toSeq
    wls.foreach(w => require(Workloads.contains(w), s"unknown workload '$w'"))
    Args(wls, req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Scale(m.getOrElse("scale", "full")), new File(req("work")), new File(req("out")),
      m.getOrElse("fingerprints", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val results = a.workloads.map(w => w -> runWorkload(w, a))
    val doc = ListMap(
      "seed" -> a.seed,
      "seconds" -> a.seconds,
      "trace" -> a.trace,
      "scale" -> a.scale.name,
      "env" -> env(),
      "workloads" -> ListMap(results: _*),
      "fingerprints" -> Option.when(a.fingerprints)(fingerprints(a)))
    a.out.getParentFile.mkdirs()
    val tmp = new File(a.out.getPath + ".tmp")
    JsonMapper.builder().addModule(DefaultScalaModule).build().writeValue(tmp, doc)
    java.nio.file.Files.move(tmp.toPath, a.out.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Input content hashes per workload for seeds (s, s, s + 1), each
    * generated from scratch: the first two must agree, the third differ.
    */
  private def fingerprints(a: Args): Map[String, Seq[Map[String, String]]] = {
    val dirs = (0 until 3).map(i => new File(a.work, s"fingerprint-$i"))
    dirs.foreach(Inputs.deleteRecursively)
    val first = new Ctx(a.seed, a.scale, new File(dirs(0), "run"))
    val session = newSession(first, Map.empty)
    val out = a.workloads.map { w =>
      w -> Seq(a.seed, a.seed, a.seed + 1).zip(dirs).map { case (seed, dir) =>
        val ctx = new Ctx(seed, a.scale, new File(dir, "run"))
        ctx.spark = session
        make(w, ctx).inputs().filter(_._1.endsWith("hash"))
      }
    }.toMap
    stopSession(session)
    dirs.foreach(Inputs.deleteRecursively)
    out
  }

  private def env(): ListMap[String, Any] = ListMap(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "master" -> s"local[${Runtime.getRuntime.availableProcessors()}]",
    "clients" -> "1 client thread, closed loop",
    "flush_policy" -> ("Parquet commits through the Hadoop local file system with no fsync; " +
      "reads are served from the OS page cache, so latencies are this machine's, not a device's"))

  def newSession(ctx: Ctx, conf: Map[String, String]): SparkSession = {
    val local = new File(ctx.work, "spark-local").getAbsolutePath
    val b = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(ctx.work, "warehouse").getAbsolutePath)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "tsdb_mixed" => new TsdbMixed(ctx)
    case "sql_analytics" => new SqlAnalytics(ctx)
    case "llm_pipeline" => new LlmPipeline(ctx)
  }

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1f s] $msg")

  /** Runs ops until `seconds` have passed and the workload is at a
    * boundary. Latency is wall time from the op's start to its result.
    */
  def loop(ctx: Ctx, wl: Workload, seconds: Double): (Vector[Rec], Double, Double, Double) = {
    wl.beginLoop()
    val recs = Vector.newBuilder[Rec]
    val start = ctx.tracer.nowMs
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var failures = 0
    while (System.nanoTime() < deadline || !wl.atBoundary) {
      val op = wl.next()
      val s = System.nanoTime()
      val outcome =
        try Right(ctx.tracer.op(op.kind)(op.run()))
        catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - s) / 1e6
      val ok = outcome match {
        case Right(check) =>
          try check() catch { case e: Exception => log(s"${op.kind} check threw $e"); false }
        case Left(e) => log(s"${op.kind} failed: $e"); false
      }
      if (!ok) {
        failures += 1
        if (failures <= 5) log(s"${op.kind} failed its output check")
      }
      recs += Rec(op.kind, op.write, ms, ok)
    }
    (recs.result(), (System.nanoTime() - t0) / 1e9, start, ctx.tracer.nowMs)
  }

  def runWorkload(name: String, a: Args): ListMap[String, Any] = {
    val ctx = new Ctx(a.seed, a.scale, new File(a.work, "run"))
    Inputs.deleteRecursively(ctx.work)
    ctx.work.mkdirs()
    val wl = make(name, ctx)
    log(s"$name: inputs for seed ${a.seed}")
    val manifest = wl.inputs()
    Option(ctx.spark).foreach(stopSession)

    // Set-up, repeated: session start + store load + warm-up. The
    // median is reported; the last repetition's state is measured.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var warmupFailures = 0
    for (r <- 1 to SetupRepeats) {
      val t0 = System.nanoTime()
      ctx.spark = newSession(ctx, wl.sessionConf)
      val t1 = System.nanoTime()
      wl.load()
      val t2 = System.nanoTime()
      log(f"$name: session ${(t1 - t0) / 1e9}%.2f s, load ${(t2 - t1) / 1e9}%.2f s")
      wl.kinds.indices.foreach { _ =>
        val op = wl.next()
        val ok = try op.run()() catch { case e: Exception => log(s"warm-up ${op.kind}: $e"); false }
        if (!ok) warmupFailures += 1
      }
      setupTimes += (System.nanoTime() - t0) / 1e9
      log(f"$name: set-up $r took ${setupTimes.last}%.2f s")
      if (r < SetupRepeats) stopSession(ctx.spark)
    }

    // Untraced, the loop runs once. Traced, it runs untraced for half
    // the time, traced for the whole time, then untraced for the other
    // half: the untraced halves bracket the traced loop, so JVM warm-up
    // drift cancels out of the tracing overhead.
    def untraced(seconds: Double) = {
      log(s"$name: measuring $seconds s untraced")
      val (r, secs, _, _) = loop(ctx, wl, seconds)
      (r, secs)
    }
    val (before, beforeSecs) = untraced(if (a.trace) a.seconds / 2 else a.seconds)
    val traced = Option.when(a.trace) {
      log(s"$name: measuring ${a.seconds} s traced")
      val tracer = new Tracer(true)
      ctx.tracer = tracer
      tracer.bind(ctx.spark.sparkContext)
      val listener = new JobListener(tracer)
      ctx.spark.sparkContext.addSparkListener(listener)
      val (tr, tsecs, w0, w1) = loop(ctx, wl, a.seconds)
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      ctx.spark.sparkContext.removeSparkListener(listener)
      ctx.spark.sparkContext.setLocalProperty(Tracer.SpanProp, null)
      ctx.tracer = new Tracer(false)
      TracedLoop(tr, tsecs, w1 - w0, listener, tracer)
    }
    val (after, afterSecs) = if (a.trace) untraced(a.seconds / 2) else (Vector.empty[Rec], 0.0)
    val recs = before ++ after
    val secs = beforeSecs + afterSecs
    val e2e = mutable.LinkedHashMap.empty[String, Metric]
    e2e("setup_s") = Metric(Stats.median(setupTimes.toSeq), "s")
    e2e ++= Stats.endToEnd(recs, secs)

    val tc = System.nanoTime()
    val checkFailures = wl.finalChecks()
    log(f"$name: final checks took ${(System.nanoTime() - tc) / 1e9}%.2f s")
    checkFailures.foreach(f => log(s"$name: final check failed: $f"))
    e2e ++= wl.endToEnd(recs, secs)
    e2e("peak_rss_mb") = Metric(Stats.peakRssMb(), "MB")

    val layer = mutable.LinkedHashMap.empty[String, Metric]
    val selfTable = traced.fold(Map.empty[String, Double])(_.tracer.selfTimes())
    traced.foreach { tl =>
      val t = Stats.endToEnd(tl.recs, tl.seconds)
      layer ++= Layers.metrics(tl.tracer, tl.listener, tl.recs, tl.windowMs, selfTable)
      layer ++= wl.layerCounts()
      layer("trace.overhead.p50_ms") = Metric(t("p50_ms").value - e2e("p50_ms").value, "ms")
      layer("trace.overhead.ops_per_s") = Metric(t("ops_per_s").value - e2e("ops_per_s").value, "1/s")
    }
    stopSession(ctx.spark)
    log(s"$name: done")

    val all = recs ++ traced.fold(Vector.empty[Rec])(_.recs)
    val failed = all.count(!_.ok)
    ListMap(
      "correct" -> (failed == 0 && warmupFailures == 0 && checkFailures.isEmpty),
      "attempted" -> all.size,
      "failed" -> failed,
      "warmup_failures" -> warmupFailures,
      "final_check_failures" -> checkFailures,
      "setup_s_each" -> setupTimes.toSeq,
      "inputs" -> ListMap(manifest.toSeq.sortBy(_._1): _*),
      "ops_by_kind" -> ListMap(recs.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> ListMap("n" -> v.size, "p50_ms" -> Stats.median(v.map(_.ms))) }: _*),
      "end_to_end" -> e2e,
      "per_layer" -> layer,
      "self_ms_by_layer" -> ListMap(selfTable.toSeq.sortBy(_._1): _*),
      "spans" -> traced.fold(Seq.empty[Span])(_.tracer.allSpans)
        .map(s => Seq(s.id, s.parent, s.op, s.name, s.layer, s.start, s.end)))
  }
}
