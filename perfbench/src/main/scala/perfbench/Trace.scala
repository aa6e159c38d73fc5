package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch nanoseconds (the clock
  * Spark's task launch/finish times use, at nanosecond scale), so span
  * intervals and task intervals can be intersected directly.
  */
final case class Span(id: Int, name: String, parent: Option[Int], runId: String,
                      start: Long, end: Long) {
  def durNs: Long = end - start
}

/** One finished task attempt, attributed to the span that was open on the
  * driver thread whose job launched it.
  */
final case class TaskRec(span: Int, stage: Int, launchNs: Long, finishNs: Long,
                         runMs: Long, shuffleWriteBytes: Long, inputBytes: Long,
                         spillBytes: Long, failed: Boolean, retried: Boolean)

object Trace {
  /** job-local property carrying the open span's id to the listener */
  val SpanProp = "perfbench.span"

  /** Total length of the union of `[s, e)` intervals, each clipped to
    * `[lo, hi)`.
    */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its child
    * spans cover.
    */
  def selfNs(span: Span, all: Seq[Span]): Long =
    span.durNs - unionLength(
      all.filter(_.parent.contains(span.id)).map(c => (c.start, c.end)), span.start, span.end)
}

/** Collects task metrics per span. Registered only on traced runs. */
final class SpanListener extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanProp))).map(_.toInt)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(stageSpan.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).getOrElse(-1)
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks.add(TaskRec(span, e.stageId, info.launchTime * 1000000L, info.finishTime * 1000000L,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L),
      e.reason != Success, info.attemptNumber > 0))
  }
}

/** Span recorder: the benchmark opens a span around each call into a
  * layer's public function. Spans stay in memory until [[write]].
  */
final class Tracer(sc: SparkContext, val runId: String) {
  val listener = new SpanListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, Long)] = Nil // (span id, start) of open spans
  private var nextId = 0
  // epoch offset of System.nanoTime, so span and task intervals share a clock
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now(): Long = System.nanoTime() + epochOffset

  def span[A](name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1)
    open = (id, now()) :: open
    sc.setLocalProperty(Trace.SpanProp, id.toString)
    try f
    finally {
      val (_, start) = open.head
      open = open.tail
      sc.setLocalProperty(Trace.SpanProp, open.headOption.map(_._1.toString).orNull)
      spans += Span(id, name, parent, runId, start, now())
    }
  }

  /** Every task-end event posted so far has reached the listener. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  def allSpans: Seq[Span] = spans.toSeq

  /** Metrics of the most recent span called `name` (see README: `.s` is self
    * time, `.task_s` executor run time of its tasks, `.driver_s` span time
    * with no task running anywhere).
    */
  def metrics(name: String): SpanMetrics = {
    drain()
    val s = spans.filter(_.name == name).last
    val sub = descendants(s)
    val all = listener.tasks.asScala.toSeq
    val own = all.filter(t => sub.contains(t.span))
    val busy = Trace.unionLength(all.map(t => (t.launchNs, t.finishNs)), s.start, s.end)
    val byStage = own.groupBy(_.stage).values.filter(_.size >= 4)
    val skew = if (byStage.isEmpty) 1.0 else {
      val heaviest = byStage.maxBy(_.map(_.runMs).sum).map(t => t.finishNs - t.launchNs).sorted
      val med = heaviest(heaviest.size / 2)
      if (med <= 0) 1.0 else heaviest.last.toDouble / med
    }
    SpanMetrics(
      s = Trace.selfNs(s, spans.toSeq) / 1e9,
      wallS = s.durNs / 1e9,
      taskS = own.map(_.runMs).sum / 1e3,
      driverS = (s.durNs - busy) / 1e9,
      shuffleWriteMb = own.map(_.shuffleWriteBytes).sum / 1e6,
      inputMb = own.map(_.inputBytes).sum / 1e6,
      spillMb = own.map(_.spillBytes).sum / 1e6,
      skew = skew,
      failed = own.count(_.failed),
      retried = own.count(_.retried))
  }

  private def descendants(s: Span): Set[Int] = {
    var out = Set(s.id)
    var grew = true
    // children are recorded before their parents (they close first), so
    // iterate to a fixpoint instead of relying on order
    while (grew) {
      val more = spans.filter(c => c.parent.exists(out.contains)).map(_.id).toSet -- out
      grew = more.nonEmpty
      out ++= more
    }
    out
  }

  def failedTasks: Int = { drain(); listener.tasks.asScala.count(_.failed) }
  def retriedTasks: Int = { drain(); listener.tasks.asScala.count(_.retried) }

  /** One JSON object per span, with its own task totals. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    val tasks = listener.tasks.asScala.toSeq.groupBy(_.span)
    val lines = spans.sortBy(_.start).map { s =>
      val ts = tasks.getOrElse(s.id, Nil)
      Main.Json.writeValueAsString(scala.collection.immutable.ListMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent.getOrElse(-1),
        "run_id" -> s.runId, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> Trace.selfNs(s, spans.toSeq) / 1e9,
        "tasks" -> ts.size, "task_s" -> ts.map(_.runMs).sum / 1e3,
        "failed_tasks" -> ts.count(_.failed), "retried_tasks" -> ts.count(_.retried)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

final case class SpanMetrics(s: Double, wallS: Double, taskS: Double, driverS: Double,
                             shuffleWriteMb: Double, inputMb: Double, spillMb: Double,
                             skew: Double, failed: Int, retried: Int)
