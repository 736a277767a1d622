package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval: a call from the benchmark into a layer, or a
  * Spark job reported by [[JobListener]]. Times are epoch milliseconds
  * (fractional), so benchmark spans and listener job times share one
  * clock.
  */
final case class Span(
    id: Int, parent: Int, op: Long, name: String, layer: String,
    start: Double, end: Double)

/** In-memory span recorder for the traced run. Disabled, every method
  * runs its body and records nothing, so the untraced run pays one
  * branch per call.
  *
  * Only the client thread opens spans; the listener thread adds job
  * spans through [[addJob]], hence the lock on `spans`.
  */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var sc: Option[SparkContext] = None
  private[perfbench] var opId = 0L

  /** Per-name durations (ms) of every closed span. */
  val durations = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Named counters summed over the traced loop. */
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def bind(context: SparkContext): Unit = sc = Some(context)

  /** Rows each store-reading op should return: the base of the
    * scan-rows-per-result-row ratio (the listener supplies the rows
    * actually scanned by the same op).
    */
  val resultRowsByOp = mutable.Map.empty[Long, Double]

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def resultRows(n: Double): Unit =
    if (enabled) resultRowsByOp(opId) = resultRowsByOp.getOrElse(opId, 0.0) + n

  /** Runs `body` as one op: the root span every layer span of the op
    * hangs under.
    */
  def op[T](kind: String)(body: => T): T = {
    opId += 1
    span(s"op.$kind", "bench")(body)
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.foreach(_.setLocalProperty(Tracer.SpanProp, s"$id:$opId"))
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(p => s"$p:$opId").orNull))
        spans.synchronized(spans += Span(id, parent, opId, name, layer, start, end))
        durations.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += end - start
      }
    }

  def addJob(parentAndOp: String, jobId: Int, start: Double, end: Double): Unit = {
    val Array(parent, op) = parentAndOp.split(':').map(_.toLong)
    spans.synchronized(spans += Span(-jobId - 1, parent.toInt, op, "spark.job", "spark", start, end))
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time per layer, in ms: each span's duration minus the part
    * of its interval its children cover. Spark jobs can overlap one
    * another (adaptive query stages), so the spark layer's time is the
    * union of its job intervals rather than their sum.
    */
  def selfTimes(): Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.filter(_.layer != "spark").foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      self(s.layer) += (s.end - s.start) - Tracer.unionLength(kids)
    }
    self("spark") = Tracer.unionLength(all.filter(_.layer == "spark").map(s => (s.start, s.end)))
    self.toMap
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Spark substrate counters for the traced loop: jobs, stages, tasks
  * and their executor metrics, plus job intervals for the span tree.
  * Attached only while tracing. Spark delivers events on its listener
  * thread; read the totals after the bus has drained.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  /** Input rows read by the tasks of each op's jobs. */
  val inputRowsByOp = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, (Double, String)]
  private val stageOp = mutable.Map.empty[Int, Long]

  private def add(k: String, v: Double): Unit = totals(k) = totals(k) + v

  // Jobs started outside any op (output checks, which run after an
  // op's clock stopped) carry no span property and are not counted.
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).map(_.getProperty(Tracer.SpanProp)).orNull
    if (prop != null) {
      add("jobs", 1)
      jobStart(e.jobId) = (e.time.toDouble, prop)
      val op = prop.split(':')(1).toLong
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (start, prop) =>
      tracer.addJob(prop, e.jobId, start, e.time.toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stageOp.contains(e.stageInfo.stageId)) add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (stageOp.contains(e.stageId)) {
    add("tasks", 1)
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) add("tasks_failed", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ms", m.executorCpuTime / 1e6)
      add("deser_ms", m.executorDeserializeTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      val wall = (info.finishTime - info.launchTime).toDouble
      add("sched_delay_ms", math.max(0.0, wall - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime))
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("input_rows", m.inputMetrics.recordsRead.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      val op = stageOp(e.stageId)
      inputRowsByOp(op) = inputRowsByOp(op) + m.inputMetrics.recordsRead
    }
  }
}
