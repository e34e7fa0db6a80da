package perfbench

import org.apache.spark.{ListenerBusAccess, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer; `parent` is -1 at the top. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics of one stage, tagged with the span open when it ran. */
final class StageStats(val stageId: Int, val span: Int) {
  var submitMs = 0L
  var doneMs = 0L
  val taskMs = ArrayBuffer.empty[Long]
  val readRecords = ArrayBuffer.empty[Long]
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var cpuNs = 0L
  var gcMs = 0L
}

/** Records every stage's task metrics. The span id travels as a Spark
  * local property, which Spark copies onto each job (and onto the threads
  * that run broadcast and adaptive sub-jobs), so attribution does not
  * depend on event timing. */
final class StageListener extends SparkListener {
  val stages = mutable.LinkedHashMap.empty[Int, StageStats]

  private def stats(id: Int, span: Int = -1) = synchronized {
    stages.getOrElseUpdate(id, new StageStats(id, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(StageListener.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val s = stats(e.stageInfo.stageId, span)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stats(e.stageInfo.stageId).doneMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(e.stageId)
    s.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.readRecords += m.shuffleReadMetrics.recordsRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
    }
  }
}

object StageListener {
  val SpanKey = "perfbench.span"
}

/** Spans kept in memory, plus the stage listener. A tracer built without a
  * context is off: `span` then only runs its body, so the untraced run
  * executes exactly the same calls. */
final class Tracer(sc: Option[SparkContext]) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = sc.map { c =>
    val l = new StageListener
    c.addSparkListener(l)
    l
  }

  def enabled: Boolean = sc.isDefined

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), name, System.nanoTime())
      spans += s
      open = s :: open
      sc.get.setLocalProperty(StageListener.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.get.setLocalProperty(StageListener.SpanKey,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Returns once the listener has handled every event posted so far. */
  def flush(): Unit = sc.foreach(ListenerBusAccess.drain)

  def close(): Unit = {
    flush()
    for (c <- sc; l <- listener) c.removeSparkListener(l)
  }

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Duration minus the time its child spans cover (children of one span
    * run one after another on the driver thread). */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** The span and every span nested in it. */
  def subtree(id: Int): Set[Int] = {
    val ch = children
    def go(i: Int): Set[Int] = ch.getOrElse(i, Nil).foldLeft(Set(i))((acc, c) => acc ++ go(c.id))
    go(id)
  }

  /** Stages that ran inside any of the given spans. */
  def stagesIn(ids: Set[Int]): Seq[StageStats] =
    listener.toSeq.flatMap(_.stages.values).filter(s => ids.contains(s.span))

  /** The last span of this name, if any. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)
}

object SparkSummary {
  /** Max over mean of a per-task count; 0 when nothing was counted. */
  def maxOverMean(xs: Seq[Long]): Double =
    if (xs.isEmpty || xs.sum == 0) 0.0 else xs.max / (xs.sum.toDouble / xs.size)

  /** Totals over stages, and the slowest task over the median task of the
    * longest-running stage. */
  def apply(stages: Seq[StageStats]): Map[String, Double] = {
    val longest = stages.maxByOption(s => s.doneMs - s.submitMs)
    val skew = longest.map { s =>
      val m = Main.median(s.taskMs.toSeq.map(_.toDouble))
      if (!(m > 0)) 0.0 else s.taskMs.max / m
    }.getOrElse(0.0)
    Map(
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.taskMs.size).sum.toDouble,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "spark.task_time_max_over_median" -> skew)
  }
}
