package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recording around the benchmark's calls into the engine's layers.
  * The untraced run uses [[NoTrace]], so its timings carry no tracing
  * cost at all; the traced run uses [[Tracer]] plus a [[WorkListener]]. */
trait Trace {
  /** Run `body` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T
  /** Add `v` to a counter of span `name` that only the benchmark can
    * see (files listed after a write, rows a call changed). */
  def note(name: String, counter: String, v: Double): Unit
  /** Whether notes are kept; callers skip the probe work when not. */
  def enabled: Boolean
  /** The operation that spans opened from now on belong to. */
  var op: Long = 0L
}

object NoTrace extends Trace {
  def span[T](name: String)(body: => T): T = body
  def note(name: String, counter: String, v: Double): Unit = ()
  def enabled = false
}

/** One traced call. Times are epoch milliseconds with a fractional part,
  * on the same clock as the listener's job start and end times. */
final case class Span(id: Long, name: String, op: Long, parent: Long,
    start: Double, end: Double)

/** Keeps every span in memory for the length of the run. The id of the
  * innermost open span travels to Spark as a thread-local property, so
  * the listener can tag each job with the span that started it. Used from
  * the benchmark's single client thread only. */
final class Tracer(sc: SparkContext) extends Trace {
  private val nanos0 = System.nanoTime()
  private val millis0 = System.currentTimeMillis().toDouble
  private def nowMs = millis0 + (System.nanoTime() - nanos0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val notes = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
  private var open: List[Long] = Nil
  private var nextId = 1L
  def enabled = true

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    sc.setLocalProperty(Tracer.Key, id.toString)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      open = open.tail
      sc.setLocalProperty(Tracer.Key, open.headOption.map(_.toString).orNull)
      spans += Span(id, name, op, parent, start, end)
    }
  }

  def note(name: String, counter: String, v: Double): Unit =
    notes((name, counter)) += v
}

object Tracer {
  val Key = "perfbench.span"
}

/** Work done by the jobs of one span. */
final class Work {
  var jobs, stages, tasks = 0L
  var cpuNs, taskMs = 0L
  var inputBytes, inputRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var outputBytes, outputRecords = 0L
}

/** Attributes each Spark job, and the stages and tasks it runs, to the
  * span whose id was the submitting thread's local property when the job
  * started. Jobs started outside any span land on span 0. */
final class WorkListener extends SparkListener {
  final case class Job(span: Long, start: Long, var end: Long)

  val jobs = mutable.Map.empty[Int, Job]
  val work = mutable.Map.empty[Long, Work]
  private val stageSpan = mutable.Map.empty[Int, Long]

  private def of(span: Long) = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.Key)))
      .fold(0L)(_.toLong)
    jobs(e.jobId) = Job(span, e.time, -1L)
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
    of(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      of(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageSpan.getOrElse(e.stageId, 0L))
    w.tasks += 1
    w.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.inputRecords += m.inputMetrics.recordsRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.outputBytes += m.outputMetrics.bytesWritten
      w.outputRecords += m.outputMetrics.recordsWritten
    }
  }
}

/** Per-span-name counters of a traced run (`<span>.<counter>`).
  *
  * Times (`wall_s`, `driver_s`, `self_s`) are medians over the span's
  * calls; work counters are means per call; ratios are taken over the
  * totals of the run:
  *   - `driver_s`: wall time not covered by any job the span started;
  *   - `self_s`: wall time not covered by any child span;
  *   - `slot_util`: task time / (wall time x cores);
  *   - `rows_examined_per_result`: input records / result rows, where a
  *     caller notes the result rows as `result_rows`. */
object SpanStats {

  /** Length of the union of `iv`, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (a, b) => (a max lo, b min hi) }.sortBy(_._1).foreach {
      case (a, b) =>
        val from = a max reach
        if (b > from) { total += b - from; reach = b }
    }
    total
  }

  private def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Spans of the timed operations (op > 0), by span name. */
  def summarize(tr: Tracer, l: WorkListener,
      cores: Int): Map[String, Map[String, Double]] = {
    val timed = tr.spans.filter(_.op > 0)
    val children = timed.groupBy(_.parent)
    val jobsBySpan = l.jobs.values.filter(_.end >= 0).groupBy(_.span)
    timed.groupBy(_.name).map { case (name, ss) =>
      val calls = ss.length.toDouble
      val walls = ss.map(s => s.end - s.start)
      val driver = ss.map { s =>
        val iv = jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start.toDouble, j.end.toDouble)).toSeq
        (s.end - s.start) - covered(iv, s.start, s.end)
      }
      val self = ss.map { s =>
        val iv = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
        (s.end - s.start) - covered(iv, s.start, s.end)
      }
      val w = new Work
      ss.foreach { s =>
        l.work.get(s.id).foreach { x =>
          w.jobs += x.jobs; w.stages += x.stages; w.tasks += x.tasks
          w.cpuNs += x.cpuNs; w.taskMs += x.taskMs
          w.inputBytes += x.inputBytes; w.inputRecords += x.inputRecords
          w.shuffleWriteBytes += x.shuffleWriteBytes
          w.shuffleReadBytes += x.shuffleReadBytes
          w.spillBytes += x.spillBytes
          w.outputBytes += x.outputBytes; w.outputRecords += x.outputRecords
        }
      }
      def note(c: String) = tr.notes((name, c))
      def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
      val stats = Map(
        "wall_s" -> median(walls) / 1e3,
        "driver_s" -> median(driver) / 1e3,
        "self_s" -> median(self) / 1e3,
        "jobs" -> w.jobs / calls,
        "stages" -> w.stages / calls,
        "tasks" -> w.tasks / calls,
        "task_cpu_s" -> w.cpuNs / 1e9 / calls,
        "slot_util" -> ratio(w.taskMs.toDouble, walls.sum * cores),
        "input_bytes" -> w.inputBytes / calls,
        "shuffle_write_bytes" -> w.shuffleWriteBytes / calls,
        "shuffle_read_bytes" -> w.shuffleReadBytes / calls,
        "spill_bytes" -> w.spillBytes / calls,
        "output_bytes" -> w.outputBytes / calls,
        "output_files" -> note("output_files") / calls,
        "rows_examined_per_result" ->
          ratio(w.inputRecords.toDouble, note("result_rows")),
        "rewrite_ratio" -> ratio(w.outputRecords.toDouble, note("changed_rows")))
      name -> stats
    }
  }
}
