package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One benchmark-side interval; spans nest by `parent` (-1 for an op). */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

/** Benchmark-side spans around every call into a layer. With tracing
  * off `span` only runs its body. Spans stay in memory until the run
  * ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, opId) = outer.headOption.getOrElse((-1L, op))
      val owner = if (op >= 0) op else opId
      stack.set((id, owner) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, owner, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }
}

/** Per-stage task figures gathered from the listener. */
final class StageRec(val stageId: Int) {
  var jobId: Int = -1
  var numTasks = 0
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var inRecords, inBytes, shRead, shWrite, spill = 0L
  var failedTasks = 0
  var completed = false
}

/** `callSite` is the stack of the engine call that started the job. */
final class JobRec(val jobId: Int, val op: Long, val callSite: String, val start: Long) {
  @volatile var end: Long = -1L
  var stageIds: Seq[Int] = Nil
}

/** Spark runtime as seen by a listener: jobs keyed to ops through the
  * job group `op-<id>` the benchmark sets before each op. Listener
  * events arrive on one bus thread; readers call `snapshot` after the
  * bus has drained. */
final class SparkSpans extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  // listener-bus timestamps are wall-clock ms; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toLong).getOrElse(-1L)

  // AQE submits most jobs from its own threads, so a job's own call
  // site names CompletableFuture; the SQL execution that owns the job
  // carries the stack of the engine call that started it
  private val executions = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { executions(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse(""))
    val j = new JobRec(e.jobId, opOf(e.properties), site, e.time * 1000000L + offsetNs)
    j.stageIds = e.stageIds
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageRec(s)).jobId = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L + offsetNs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    val i = e.taskInfo
    s.taskMs += i.duration
    if (!i.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      s.schedDelayMs += math.max(0L,
        i.duration - overhead - m.executorRunTime - i.gettingResultTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stages.getOrElseUpdate(info.stageId, new StageRec(info.stageId))
    s.numTasks = info.numTasks
    s.completed = true
    val m = info.taskMetrics
    if (m != null) {
      s.runMs = m.executorRunTime
      s.cpuNs = m.executorCpuTime
      s.gcMs = m.jvmGCTime
      s.inRecords = m.inputMetrics.recordsRead
      s.inBytes = m.inputMetrics.bytesRead
      s.shRead = m.shuffleReadMetrics.totalBytesRead
      s.shWrite = m.shuffleWriteMetrics.bytesWritten
      s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): (Seq[JobRec], Seq[StageRec]) = synchronized {
    (jobs.values.toList, stages.values.filter(_.completed).toList)
  }

}

/** Counts the two log anomalies the engine is known to emit:
  * `Failed to update accumulator` (ERROR, DAGScheduler) and
  * `Block ... already exists` (WARN, BlockManager). */
final class AnomalyCounter extends AbstractAppender("perfbench-anomalies", null, null,
    true, Property.EMPTY_ARRAY) {
  val lostAccumulators = new LongAdder
  val duplicateBlocks = new LongAdder

  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    if (msg.contains("Failed to update accumulator")) lostAccumulators.increment()
    else if (msg.startsWith("Block ") && msg.contains("already exists")) duplicateBlocks.increment()
  }

  def install(): this.type = {
    start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(this, Level.WARN, null)
    ctx.updateLoggers()
    this
  }
}
