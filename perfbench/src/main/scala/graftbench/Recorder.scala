package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.EngineBridge
import scala.collection.mutable

/** One traced call into a layer. `parent` is the enclosing span's id
  * (-1 at top level); `pass` is the pass that opened it (-1 outside
  * passes). Counters are filled from the listener bus.
  */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
                 val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = Long.MaxValue
  var jobs = 0
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var planMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans (traced runs only) and engine counters (every run).
  *
  * Jobs are attributed to the innermost open span through the Spark
  * local property [[Recorder.SpanKey]], set on the benchmark thread;
  * stages and tasks follow their job. SQL planning time comes from the
  * execution's QueryPlanningTracker and is attributed through the
  * execution id its jobs carry, or, for executions that launch no job,
  * to the innermost span open when the execution started. Every
  * counter is read only after [[drain]], which waits for the listener
  * bus to empty.
  */
final class Recorder(spark: SparkSession, val tracing: Boolean) extends SparkListener {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  // listener-side state, guarded by `this`
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val execSpan = mutable.HashMap.empty[Long, Span]
  private val execStartMs = mutable.HashMap.empty[Long, Long]
  private val execPlanMs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var jobsUnattributed = 0
  private var spillBytes = 0L
  private val blocks = mutable.HashMap.empty[String, Long]
  private var held = 0L
  private var peak = 0L

  sc.addSparkListener(this)

  /** Run `body` inside a span named `name`; without tracing, just run it. */
  def span[T](name: String, pass: Int)(body: => T): T =
    if (!tracing) body
    else {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), pass,
        System.nanoTime(), System.currentTimeMillis())
      synchronized { spans += s }
      open = s :: open
      sc.setLocalProperty(Recorder.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Recorder.SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until every posted event is delivered, then resolve the plan
    * time of executions that finished since the last drain.
    */
  def drain(): Unit = {
    EngineBridge.drainListenerBus(spark)
    synchronized {
      execPlanMs.foreach { case (id, ms) =>
        execSpan.get(id).orElse(execStartMs.get(id).flatMap(spanAt)).foreach(_.planMs += ms)
      }
      execPlanMs.clear()
    }
  }

  private def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startNs)

  def unattributedJobs: Int = synchronized(jobsUnattributed)
  def spillMb: Double = synchronized(spillBytes / 1e6)
  def peakMb: Double = synchronized(peak / 1e6)
  def resetPeak(): Unit = synchronized { peak = held }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Recorder.SpanKey))) match {
      case Some(Recorder.Off) => ()
      case Some(id) =>
        val span = spans(id.toInt)
        span.jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => execSpan(x.toLong) = span)
      case None => jobsUnattributed += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageSpan.get(e.stageId).foreach { s =>
        s.taskMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      held += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      peak = math.max(peak, held)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execStartMs(s.executionId) = s.time }
    case end: SparkListenerSQLExecutionEnd =>
      EngineBridge.planningMs(end).foreach(ms => synchronized { execPlanMs += ((end.executionId, ms)) })
    case _ => ()
  }
}

object Recorder {
  /** Local property carrying the id of the innermost open span. */
  val SpanKey = "graftbench.span"
  /** [[SpanKey]] value of deliberately untraced work inside a traced run. */
  val Off = "off"
}
