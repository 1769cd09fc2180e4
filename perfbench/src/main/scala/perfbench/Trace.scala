package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around every public library call a workload makes, plus the
  * scheduler view of the same window through a SparkListener the
  * benchmark attaches itself.
  *
  * A span records (name, start, end, parent, operation id); its layer is
  * the name up to the first dot. While a span is open its id rides on the
  * SparkContext as a local property, so every job submitted inside it is
  * attributed to it even though listener events arrive asynchronously.
  * Nothing is recorded while tracing is off; the off path is a plain call. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile private var enabled = false
  private var stack: List[Span] = Nil
  private var opId = -1L
  val spans = ArrayBuffer[Span]()
  val listener = new JobListener

  def on: Boolean = enabled

  def start(): Unit = {
    sc.addSparkListener(listener)
    enabled = true
  }

  /** Stops recording and waits until every event of the traced window has
    * reached the listener. */
  def stop(): Unit = {
    enabled = false
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  def op[T](id: Long, name: String)(f: => T): T = {
    opId = id
    try span(name)(f) finally opId = -1L
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        opId, System.nanoTime())
      spans += s
      stack ::= s
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self time per layer: each span's duration minus its children's. */
  def layerSelfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.durNs - childNs(s.id)).sum / 1e9
    }
  }

  /** Every job recorded in the window, with the span it ran under. */
  def jobs: Seq[Job] = listener.jobs.toSeq.sortBy(_.id)

  /** Jobs whose span, or an ancestor of it, has a name satisfying `p`. */
  def jobsUnder(p: String => Boolean): Seq[Job] = jobs.filter { j =>
    var id = j.span
    var hit = false
    while (id >= 0 && !hit) { hit = p(spans(id).name); id = spans(id).parent }
    hit
  }

  def spansJson: String = spans.map { s =>
    Json.render(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end))
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanProperty = "perfbench.span"
  /** Layers that self time is reported for; `bench` is the operation
    * wrapper itself (time inside an operation but outside any library call). */
  val Layers: Seq[String] = Seq("bench", "sources", "etl", "olap", "dedup", "cdc")

  final case class Span(id: Int, name: String, parent: Int, op: Long,
                        start: Long, var end: Long = 0L) {
    def layer: String = name.takeWhile(_ != '.')
    def durNs: Long = end - start
  }

  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long = -1L)

  final class JobListener extends SparkListener {
    val jobs = new ArrayBuffer[Job]()
    private val stageJob = scala.collection.mutable.Map[Int, Int]()
    var stages = 0L
    var tasks = 0L
    var taskRunMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      span.foreach { s =>
        jobs += Job(e.jobId, s.toInt, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageJob.contains(e.stageInfo.stageId)) stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks += 1
        taskRunMs += m.executorRunTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Length of the union of the jobs' [start, end] intervals, in ms. */
  def busyMs(js: Seq[Job]): Long = {
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}
