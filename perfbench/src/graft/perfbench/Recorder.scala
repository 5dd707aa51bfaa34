package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side work credited to one job group (one benchmark call). */
final class Counters {
  var jobs, tasks, failedTasks = 0L
  var execRunMs, execCpuNs, gcMs, fetchWaitMs = 0L
  var shuffleBytes, shuffleRecords, spillBytes = 0L
  var inputRows, rowsWritten = 0L
  var planMs = 0.0
  var persistBytes, persistPeakBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    execRunMs += o.execRunMs; execCpuNs += o.execCpuNs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; shuffleBytes += o.shuffleBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    inputRows += o.inputRows; rowsWritten += o.rowsWritten; planMs += o.planMs
    persistPeakBytes = math.max(persistPeakBytes, o.persistPeakBytes)
  }
}

/** Listener pair that credits every Spark job, task, persisted block and
  * query plan to the job group it ran under. The benchmark gives each call
  * its own group, so a group's counters are that call's work. Jobs under no
  * group land in [[Recorder.Untagged]]; streaming micro-batches run under
  * the query's run id, which [[alias]] maps back to the call that started
  * the query. All state is written on the listener-bus thread and read only
  * after [[org.apache.spark.PerfBenchBus.drain]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder.Untagged

  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val planMsByExec = mutable.Map.empty[Long, Double]
  private var pendingPlanMs = 0.0
  private val aliases = mutable.Map.empty[String, String]
  private val blockOwner = mutable.Map.empty[String, (String, Long)]
  private var lastGroup = Untagged

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  /** Credit jobs run under `from` (a streaming query's run id) to `to`. */
  def alias(from: String, to: String): Unit = synchronized { aliases(from) = to }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty(Recorder.JobGroupKey)))
      .getOrElse(Untagged)
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.getOrElseUpdate(id.toLong, g))
    val c = counters(g)
    c.jobs += 1
    lastGroup = g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, Untagged))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.execRunMs += m.executorRunTime
      c.execCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.diskBytesSpilled
      c.inputRows += m.inputMetrics.recordsRead
      c.rowsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Persisted RDD blocks (where `Mat.pin` and caches show) belong to the
    * group whose job was started last when the block first appeared. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = info.memSize + info.diskSize
      val (owner, old) = blockOwner.getOrElse(key, (lastGroup, 0L))
      val c = counters(owner)
      c.persistBytes += size - old
      c.persistPeakBytes = math.max(c.persistPeakBytes, c.persistBytes)
      if (info.storageLevel.isValid && size > 0) blockOwner(key) = (owner, size)
      else blockOwner.remove(key)
    }
  }

  /** The session's query-execution callbacks for an execution's end event
    * run on this same bus queue just before this listener sees the event
    * (they were registered first), so the plan time they left pending
    * belongs to the execution that is ending. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup(s.executionId) = g)
      case s: SparkListenerSQLExecutionEnd =>
        planMsByExec(s.executionId) = planMsByExec.getOrElse(s.executionId, 0.0) + pendingPlanMs
        pendingPlanMs = 0.0
      case _ =>
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    pendingPlanMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  /** Counters per call group, aliases resolved; unknown groups fold into
    * [[Untagged]]. Call after the listener bus has drained. */
  def byCall(known: Set[String]): Map[String, Counters] = synchronized {
    val out = mutable.Map.empty[String, Counters]
    def target(g: String): String = {
      val r = aliases.getOrElse(g, g)
      if (known(r)) r else Untagged
    }
    byGroup.foreach { case (g, c) => out.getOrElseUpdate(target(g), new Counters).add(c) }
    planMsByExec.foreach { case (id, ms) =>
      out.getOrElseUpdate(target(execGroup.getOrElse(id, Untagged)), new Counters).planMs += ms
    }
    out.toMap
  }
}

object Recorder {
  val Untagged = "untagged"
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"
}
