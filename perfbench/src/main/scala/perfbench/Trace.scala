package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A timed region: a public verb call, its materializing action, or an
  * op around them. Spans of one run share `run`; `parent` is -1 at the
  * top. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, run: String, pass: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Scheduler, executor, shuffle and io counters of one traced pass,
  * from a SparkListener attached for that pass only. Jobs carry the
  * innermost open span in a local property, so each job is attributed
  * to the verb that launched it. */
final class PassListener extends SparkListener {
  val jobSpan = mutable.HashMap[Int, Int]()
  val stages = mutable.ArrayBuffer[(Long, Long, Int)]() // submitted, completed, tasks
  val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobSpan(e.jobId) = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stages += ((s, c, i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    sums("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      sums("run_ms") += m.executorRunTime
      sums("cpu_ms") += m.executorCpuTime / 1e6
      sums("gc_ms") += m.jvmGCTime
      sums("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
      sums("shuffle_read") += m.shuffleReadMetrics.totalBytesRead
      sums("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      sums("spill") += m.diskBytesSpilled
      sums("input") += m.inputMetrics.bytesRead
      sums("output") += m.outputMetrics.bytesWritten
    }
  }
}

/** Catalyst planning time (QueryPlanningTracker phases) of every
  * query execution that ran an action during a traced pass. */
final class PlanListener extends QueryExecutionListener {
  var actions = 0
  var planMs = 0.0
  private def record(qe: QueryExecution): Unit = synchronized {
    actions += 1
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** What a traced pass measured: per-layer counters plus the spans. */
final case class PassTrace(metrics: Map[String, Double], spans: Seq[Span], jobsBySpan: Map[Int, Int]) {
  private def named(n: String) = spans.filter(_.name == n)
  private lazy val children = spans.groupBy(_.parent)

  /** Total duration of the spans called `n`. */
  def ms(n: String): Double = named(n).map(_.ms).sum

  /** Jobs launched inside the spans called `n`, their children included. */
  def jobs(n: String): Double = {
    def inclusive(s: Span): Int =
      jobsBySpan.getOrElse(s.id, 0) + children.getOrElse(s.id, Nil).map(inclusive).sum
    named(n).map(inclusive).sum.toDouble
  }

  /** A span's duration minus the part of it its children cover. */
  def selfMs(s: Span): Double =
    s.ms - Tracer.unionNs(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))) / 1e6

  def selfByName: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfMs).sum }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Records spans while a traced pass is open, and nothing otherwise:
  * untraced passes pay only the `enabled` test per span. Spans stay in
  * memory and are written out when the run ends. */
final class Tracer(spark: SparkSession, val run: String) {
  import Tracer._
  val all = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var pass = -1
  private var listener: PassListener = _
  private var plans: PlanListener = _
  private var fsAtStart = (0L, 0L)
  private var t0 = 0L
  def enabled: Boolean = listener != null
  private def sc = spark.sparkContext

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    val start = System.nanoTime()
    try body finally {
      val end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      all += Span(id, name, parent, run, pass, start, end)
    }
  }

  /** Hadoop global storage statistics: bytes read and written through
    * every FileSystem of this JVM (local-mode executors included). */
  private def fsBytes(): (Long, Long) = {
    var r = 0L; var w = 0L
    val it = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator()
    while (it.hasNext) {
      val s = it.next()
      Option(s.getLong("bytesRead")).foreach(r += _)
      Option(s.getLong("bytesWritten")).foreach(w += _)
    }
    (r, w)
  }

  def begin(passIndex: Int): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    pass = passIndex
    listener = new PassListener; plans = new PlanListener
    sc.addSparkListener(listener)
    spark.listenerManager.register(plans)
    fsAtStart = fsBytes()
    t0 = System.currentTimeMillis()
  }

  /** Close the traced pass. Its ops run back to back, so the window
    * since `begin` is the pass wall the driver gap is taken against. */
  def end(): PassTrace = {
    val elapsed = System.currentTimeMillis() - t0
    org.apache.spark.PerfbenchBus.drain(sc)
    val (l, p) = (listener, plans)
    sc.removeSparkListener(l); spark.listenerManager.unregister(p)
    listener = null; plans = null
    val (r1, w1) = fsBytes()
    val mb = 1024.0 * 1024.0
    val spans = all.filter(_.pass == pass).toSeq
    l.synchronized {
      val busy = unionNs(l.stages.map { case (s, c, _) => (s, c) }.toSeq).toDouble
      val s = l.sums
      val metrics = Map(
        "catalyst.plan_ms" -> p.planMs, "catalyst.actions" -> p.actions.toDouble,
        "scheduler.jobs" -> l.jobSpan.size.toDouble, "scheduler.stages" -> l.stages.size.toDouble,
        "scheduler.tasks" -> s("tasks"),
        "scheduler.driver_gap_ms" -> math.max(0.0, elapsed - busy),
        "scheduler.busy_share" -> busy / math.max(elapsed, 1),
        "scheduler.serial_stage_ms" -> l.stages.collect { case (a, b, 1) => (b - a).toDouble }.sum,
        "executor.run_ms" -> s("run_ms"), "executor.cpu_ms" -> s("cpu_ms"), "executor.gc_ms" -> s("gc_ms"),
        "shuffle.write_mb" -> s("shuffle_write") / mb, "shuffle.read_mb" -> s("shuffle_read") / mb,
        "shuffle.fetch_wait_ms" -> s("fetch_wait_ms"), "shuffle.spill_mb" -> s("spill") / mb,
        "io.input_mb" -> s("input") / mb, "io.output_mb" -> s("output") / mb,
        "io.fs_read_mb" -> (r1 - fsAtStart._1) / mb, "io.fs_write_mb" -> (w1 - fsAtStart._2) / mb)
      PassTrace(metrics, spans, l.jobSpan.values.groupBy(identity).map { case (k, v) => k -> v.size })
    }
  }
}
