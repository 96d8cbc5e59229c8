package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed call: layer name, wall-clock bounds (ns, `System.nanoTime`),
  * the enclosing span's index (-1 at the root) and the op it served
  * (-1 during set-up). */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Long,
                      label: String = "")

/** Spans around the benchmark's own calls into each layer. Disabled, a
  * span is the bare call; enabled, spans are kept in memory and written
  * once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = -1
  var op: Long = -1L

  def span[A](name: String, label: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, open, op, label)
      val parent = open
      open = idx
      try body
      finally {
        spans(idx) = spans(idx).copy(end = System.nanoTime())
        open = parent
      }
    }

  /** Span duration minus the part of it that its direct children cover,
    * summed per span name, in seconds; timed-phase spans only. */
  def selfSeconds(): Map[String, Double] = {
    val childNs = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.indices.filter(spans(_).op >= 0).groupMapReduce(i => spans(i).name)(i =>
      (spans(i).end - spans(i).start - childNs(i)) / 1e9)(_ + _)
  }

  /** Summed duration of the timed-phase spans with this name, in seconds. */
  def totalSeconds(name: String): Double =
    spans.iterator.filter(s => s.name == name && s.op >= 0).map(s => (s.end - s.start) / 1e9).sum

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.zipWithIndex.foreach { case (s, i) =>
      w.write(s"""{"id":$i,"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op},"label":"${s.label}"}""")
      w.newLine()
    } finally w.close()
  }
}

/** Scheduler and task totals per op. Jobs carry the op id as a local
  * property; stages and tasks are attributed through their job. */
final class OpListener extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, gcMs = 0L
    var cpuNs = 0L
    var shuffleRead, shuffleWrite, spill, input = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val totals = mutable.Map.empty[Long, Totals]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val jobOp = mutable.Map.empty[Int, (Long, Long)]

  private def of(op: Long): Totals = totals.getOrElseUpdate(op, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key)))
      .map(_.toLong).getOrElse(-1L)
    val t = of(op)
    t.jobs += 1
    t.stages += e.stageIds.size
    e.stageIds.foreach(stageOp(_) = op)
    jobOp(e.jobId) = (op, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) => of(op).jobSpans += ((start, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageOp.getOrElse(e.stageId, -1L))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
    }
  }

  /** Union length of the op's job spans, in seconds. */
  def jobSeconds(op: Long): Double = {
    val spans = totals.get(op).map(_.jobSpans.sortBy(_._1)).getOrElse(Nil)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    spans.foreach { case (s, e) =>
      if (s > hi) { covered += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (spans.nonEmpty) covered += hi - lo
    covered / 1e3
  }
}

object OpListener {
  val Key = "perfbench.op"
}
