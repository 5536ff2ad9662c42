package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark-side span: a call the benchmark makes into one layer. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, var endNs: Long, op: Int)

/** Span tracer and job recorder behind the per-layer metrics.
  *
  * Spans are opened only by the benchmark, around its calls into the
  * engine's public functions; nothing inside the engine is instrumented.
  * The id of the innermost open span rides the SparkContext local property
  * [[SpanProperty]], so every job submitted while it is open, including the
  * jobs Spark submits from its own pool threads on that thread's behalf,
  * carries the span it belongs to. Spans and jobs stay in memory and are
  * written once, when the run ends.
  *
  * While tracing is off [[span]] only runs its body. An untraced run
  * registers no listener.
  */
object Trace {
  val SpanProperty = "graftbench.span"

  @volatile var enabled = false
  private var sc: SparkContext = _
  private var nextId = 1
  private val open = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  var op: Int = -1

  def attach(context: SparkContext, listener: JobRecorder): Unit = {
    sc = context
    context.addSparkListener(listener)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, if (open.isEmpty) 0 else open.top.id, layer, name,
        System.nanoTime(), 0L, op)
      nextId += 1
      open.push(s)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        spans += s
        open.pop()
        sc.setLocalProperty(SpanProperty, if (open.isEmpty) null else open.top.id.toString)
      }
    }
}

/** Counters of one Spark job, summed over its stages' tasks. */
final class JobRecord(val id: Int, val span: Int, val site: String, val submitNs: Long) {
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var peakExecMem = 0L
  var endNs = 0L
}

/** Collects job, stage and task counters and attributes each job to the
  * span in [[Trace.SpanProperty]] at submission. The job's call site is kept
  * as the stack frames of engine and benchmark classes only, so that the
  * record names which engine file started each job. */
final class JobRecorder extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRecord]()
  private val stageToJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      .split('\n').iterator.map(_.trim).filter(_.startsWith("graft")).mkString("\n")
    val rec = new JobRecord(e.jobId, span, site, System.nanoTime())
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = System.nanoTime())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
      j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
    }
  }
}
