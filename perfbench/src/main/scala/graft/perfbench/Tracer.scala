package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer of the program. `op` numbers the
  * benchmark operation the span belongs to; `parent` is the enclosing
  * span's id, or -1.
  */
final class Span(val id: Int, val name: String, val family: String,
    val parent: Int, val op: Int, val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listener saw for one span: jobs, stages, tasks and their
  * metrics. Task time windows are kept for driver-idle accounting and
  * task durations per stage for the skew ratio.
  */
final class SpanStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var recordsWritten = 0L
  val taskWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
}

/** Sums over a set of spans, with everything the per-layer metrics are
  * derived from.
  */
final case class Rollup(
    spans: Int, seconds: Double, noTaskS: Double, jobs: Long, stages: Long,
    tasks: Long, failedTasks: Long, runS: Double, cpuS: Double,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long, recordsWritten: Long,
    stageSkewMax: Double, cores: Int) {

  def coreBusyFrac: Double = if (seconds <= 0) 0.0 else runS / (seconds * cores)

  /** The `spark.*` metric family for these spans. */
  def sparkMetrics: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble,
    "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble,
    "failed_tasks" -> failedTasks.toDouble,
    "executor_run_s" -> runS,
    "executor_cpu_s" -> cpuS,
    "core_busy_frac" -> coreBusyFrac,
    "no_task_s" -> noTaskS,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble,
    "input_bytes" -> inputBytes.toDouble,
    "output_bytes" -> outputBytes.toDouble,
    "stage_skew_max" -> stageSkewMax)
}

/** Wraps a call into the program in a named span; [[NoSpans]] when the
  * run is not traced.
  */
trait Spans {
  def span[A](name: String, family: String, op: Int)(body: => A): A
}

object NoSpans extends Spans {
  def span[A](name: String, family: String, op: Int)(body: => A): A = body
}

/** Outside-in tracer. The benchmark wraps each call into a layer's
  * public functions in [[span]]; the span id rides on the Spark local
  * property [[Tracer.Prop]], which Spark copies onto every job and stage
  * the call submits, and the listener attributes those events to the
  * innermost open span. No program code is changed or instrumented.
  *
  * Spans are kept in memory; [[spansJson]] is written when the run ends.
  */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener with Spans {
  import Tracer.Prop

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stats = mutable.HashMap.empty[Int, SpanStats]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  def span[A](name: String, family: String, op: Int)(body: => A): A = {
    val s = new Span(spans.size, name, family, open.headOption.fold(-1)(_.id), op,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Waits until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).fold(-1)(_.toInt)

  private def statsOf(span: Int): SpanStats = stats.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    statsOf(spanOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    statsOf(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = statsOf(stageSpan.getOrElse(e.stageId, -1))
    val info = e.taskInfo
    st.tasks += 1
    if (e.reason != Success) st.failedTasks += 1
    st.taskWindows += ((info.launchTime, info.finishTime))
    st.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty[Long]) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.inputBytes += m.inputMetrics.bytesRead
      st.outputBytes += m.outputMetrics.bytesWritten
      st.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Rolls up the spans `select` picks, each with its descendants.
    * A picked span nested in another picked span counts once.
    */
  def rollup(select: Span => Boolean): Rollup = synchronized {
    val picked = spans.filter(select).map(_.id).toSet
    def pickedAncestor(s: Span): Boolean = {
      var p = s.parent
      while (p >= 0 && !picked(p)) p = spans(p).parent
      p >= 0
    }
    val tops = spans.filter(s => picked(s.id) && !pickedAncestor(s))
    val topIds = tops.map(_.id).toSet
    def inTree(id: Int): Boolean = {
      var p = id
      while (p >= 0 && !topIds(p)) p = spans(p).parent
      p >= 0
    }
    val covered = stats.iterator.collect { case (id, st) if id >= 0 && inTree(id) => st }.toSeq
    val windows = covered.flatMap(_.taskWindows).sortBy(_._1)
    val noTaskS = tops.map(s => (s.endMs - s.startMs - busyMs(windows, s.startMs, s.endMs)) / 1e3).sum
    val skews = covered.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ds =>
      val sorted = ds.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }
    Rollup(
      spans = tops.size,
      seconds = tops.map(_.seconds).sum,
      noTaskS = math.max(0.0, noTaskS),
      jobs = covered.map(_.jobs).sum,
      stages = covered.map(_.stages).sum,
      tasks = covered.map(_.tasks).sum,
      failedTasks = covered.map(_.failedTasks).sum,
      runS = covered.map(_.runMs).sum / 1e3,
      cpuS = covered.map(_.cpuNs).sum / 1e9,
      shuffleWriteBytes = covered.map(_.shuffleWriteBytes).sum,
      shuffleReadBytes = covered.map(_.shuffleReadBytes).sum,
      spillBytes = covered.map(_.spillBytes).sum,
      inputBytes = covered.map(_.inputBytes).sum,
      outputBytes = covered.map(_.outputBytes).sum,
      recordsWritten = covered.map(_.recordsWritten).sum,
      stageSkewMax = if (skews.isEmpty) 0.0 else skews.max,
      cores = cores)
  }

  /** Milliseconds of [from, to) during which at least one of the
    * start-sorted task windows was running.
    */
  private def busyMs(windows: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var busy = 0L
    var curStart = -1L
    var curEnd = -1L
    def flush(): Unit =
      if (curEnd > curStart) busy += math.min(curEnd, to) - math.max(curStart, from)
    windows.foreach { case (s0, e0) =>
      val s = math.max(s0, from)
      val e = math.min(e0, to)
      if (e > s) {
        if (s > curEnd) { flush(); curStart = s; curEnd = e }
        else curEnd = math.max(curEnd, e)
      }
    }
    flush()
    busy
  }

  /** Every span with the listener totals attributed directly to it.
    * `self_s` is its time minus its child spans' time.
    */
  def spansJson: Seq[Map[String, Any]] = synchronized {
    val childS = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.toSeq.map { s =>
      val st = stats.getOrElse(s.id, new SpanStats)
      Map("id" -> s.id, "name" -> s.name, "family" -> s.family,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_s" -> (s.seconds - childS.getOrElse(s.id, 0.0)), "jobs" -> st.jobs,
        "stages" -> st.stages, "tasks" -> st.tasks,
        "executor_run_s" -> st.runMs / 1e3,
        "shuffle_write_bytes" -> st.shuffleWriteBytes,
        "shuffle_read_bytes" -> st.shuffleReadBytes,
        "spill_bytes" -> st.spillBytes, "input_bytes" -> st.inputBytes,
        "output_bytes" -> st.outputBytes)
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
