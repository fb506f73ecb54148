package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer, recorded by the harness around the call
  * (never inside the engine). `parent` is 0 for a top-level span; every
  * span of one process shares `run`. */
final case class Span(id: Int, name: String, label: String, parent: Int,
                      run: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Disabled, `span` is a plain call; enabled, it keeps every
  * span in memory and tags the Spark jobs the call submits with the span id
  * (a thread-local job property) so listener counters land on the layer
  * that caused them. Spans are written out only when the run ends. */
final class Tracer(val run: String) {
  @volatile var enabled = false
  @volatile var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  private var current = 0

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      stack = id :: stack
      enter(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        enter(stack.headOption.getOrElse(0))
        spans += Span(id, name, label, parent, run, t0, t1)
      }
    }

  private def enter(id: Int): Unit = {
    current = id
    sc.setLocalProperty(Tracer.SpanKey, if (id == 0) null else id.toString)
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus what its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Executor-side counters for the jobs of one span. */
final class JobCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, peakMem = 0L

  def add(o: JobCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
  }
}

/** Spark listener registered by the harness for traced passes only. Jobs
  * are attributed to the span that was open when they were submitted. */
final class LayerListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val counters = mutable.HashMap.empty[Int, JobCounters]

  private def of(span: Int): JobCounters = counters.getOrElseUpdate(span, new JobCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toIntOption).getOrElse(0)
    e.stageIds.foreach(stageSpan(_) = span)
    of(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrElse(e.stageId, 0))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  def bySpan: Map[Int, JobCounters] = synchronized(counters.toMap)
}

/** Micro-batch progress counters, registered beside [[LayerListener]]. */
final class StreamCounters extends StreamingQueryListener {
  var batches = 0L
  var bringupMs, planningMs, addBatchMs, walCommitMs, commitOffsetsMs = 0L
  var stateCommitMs, stateMemPeak = 0L
  private val startedAt = mutable.HashMap.empty[java.util.UUID, Long]
  private val lastRows = mutable.HashMap.empty[java.util.UUID, Long]

  private def ms(d: java.util.Map[String, java.lang.Long], k: String): Long =
    Option(d.get(k)).map(_.longValue).getOrElse(0L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    startedAt(e.runId) = Instant.parse(e.timestamp).toEpochMilli
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += 1
    startedAt.remove(p.runId).foreach(t0 => bringupMs += Instant.parse(p.timestamp).toEpochMilli - t0)
    val d = p.durationMs
    planningMs += ms(d, "queryPlanning")
    addBatchMs += ms(d, "addBatch")
    walCommitMs += ms(d, "walCommit")
    commitOffsetsMs += ms(d, "commitOffsets")
    var rows, mem = 0L
    p.stateOperators.foreach { s =>
      stateCommitMs += s.commitTimeMs
      rows += s.numRowsTotal
      mem += s.memoryUsedBytes
    }
    lastRows(p.runId) = rows
    stateMemPeak = math.max(stateMemPeak, mem)
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Rows held in state at the end of each query, summed over queries. */
  def finalStateRows: Long = synchronized(lastRows.values.sum)
}
