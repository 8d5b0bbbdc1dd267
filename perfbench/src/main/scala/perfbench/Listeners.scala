package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task-level counters per operation, from Spark's own listener bus.
  *
  * A job belongs to the operation named by the `perfbench.op` local
  * property of the thread that submitted it; jobs without one (a streaming
  * query's micro-batches) belong to the phase whose wall-clock window holds
  * the job's submission time. */
final class TaskStats extends SparkListener {
  final class Agg {
    var jobs, stages, tasks, inBytes, inRecords, shuffleWrite, spill,
      cpuNs, gcMs = 0L
    def add(o: Agg): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      inBytes += o.inBytes; inRecords += o.inRecords
      shuffleWrite += o.shuffleWrite; spill += o.spill
      cpuNs += o.cpuNs; gcMs += o.gcMs
    }
  }

  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val byOp = new ConcurrentHashMap[String, Agg]()
  private val windows = new ConcurrentLinkedQueue[(String, Long, Long)]()

  /** Attribute unlabelled jobs submitted in [fromMs, untilMs) to `phase`. */
  def window(phase: String, fromMs: Long, untilMs: Long): Unit =
    windows.add((phase, fromMs, untilMs)): Unit

  private def agg(op: String): Agg = byOp.computeIfAbsent(op, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val labelled = Option(e.properties).flatMap(p =>
      Option(p.getProperty(TaskStats.OpKey)))
    val op = labelled.getOrElse(s"${TaskStats.AtPrefix}${e.time}")
    e.stageIds.foreach(stageOp.put(_, op))
    agg(op).synchronized(agg(op).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val a = agg(op); a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (op <- Option(stageOp.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = agg(op)
      a.synchronized {
        a.tasks += 1
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }

  /** Sum over the operations `keep` selects; time-attributed jobs resolve
    * to their phase window first. Call after the bus has drained. */
  def total(keep: String => Boolean): Agg = {
    val out = new Agg
    byOp.asScala.foreach { case (op, a) =>
      val key =
        if (!op.startsWith(TaskStats.AtPrefix)) op
        else {
          val t = op.stripPrefix(TaskStats.AtPrefix).toLong
          windows.asScala.collectFirst {
            case (phase, from, until) if t >= from && t < until => phase
          }.getOrElse("")
        }
      if (keep(key)) a.synchronized(out.add(a))
    }
    out
  }
}

object TaskStats {
  val OpKey = "perfbench.op"
  private val AtPrefix = "@"
}

/** Every micro-batch progress event of the streaming queries, plus an
  * optional callback run on each (the traced run samples the broker's
  * backlog there). */
final class Progress(onEach: StreamingQueryListener.QueryProgressEvent => Unit)
    extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e.progress)
    onEach(e)
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
