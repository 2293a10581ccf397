package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.{Success, TaskKilled}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerExecutorAdded, SparkListenerExecutorRemoved, SparkListenerSpeculativeTaskSubmitted, SparkListenerStageSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** The one listener in the engine's tooling. For the bench: CPU and
  * shuffle transport bytes summed over every COMPLETED task,
  * snapshotted at query boundaries. For the [[Probe]] fault modes:
  * task, stage, executor and migrated-block counts.
  *
  * Why it exists: [[BenchCore.processCpuSeconds]] reads THIS JVM's
  * process clock, which attributes all plan compute only while the
  * master is `local[n]` (tasks run in the driver). Under
  * `GRAFT_MASTER=local-cluster[...]` every task runs in a forked
  * executor JVM and the process clock sees nothing but harness
  * overhead — task metrics are the deployment-independent CPU
  * attribution (and the only one a real cluster has). Shuffle
  * read-side bytes are recorded split by locality: a nonzero
  * `remoteBytesRead` is positive evidence the run exercised real
  * cross-executor (Netty) shuffle transport, which `local[n]`
  * structurally cannot (one BlockManager → all reads local).
  *
  * The listener bus is ASYNCHRONOUS: events from an action can still
  * be in flight when the action returns, so a boundary snapshot must
  * [[drain]] first or tail events bleed into the next query's delta.
  */
final class TaskMetricsProbe extends SparkListener {
  private val cpuNs = new LongAdder
  private val runMs = new LongAdder
  private val remoteShuffleB = new LongAdder
  private val localShuffleB = new LongAdder
  private val tasks = new LongAdder

  // Scheduler and block-manager evidence for the fault modes of
  // [[Probe]]: read with `.sum()` after a [[TaskMetricsProbe.drain]].
  val tasksStarted, tasksEnded, tasksFailed, tasksKilled,
    speculativeLaunched, speculatableMarked, stageReattempts,
    executorsAdded, executorsRemoved,
    shuffleBlocksMigrated, rddBlocksMigrated = new LongAdder

  /** `rdd_*` block updates count as migrated only after this instant:
    * plain caching posts the same event class, so the fence opens
    * when a decommission signal is about to be sent. It is read on
    * listener PROCESSING time, so bus lag can leak a few pre-signal
    * cache events past it; the count is reported, never guarded on.
    */
  @volatile var rddFenceNanos: Long = Long.MaxValue

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    tasksStarted.increment()
    if (e.taskInfo.speculative) speculativeLaunched.increment()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.increment()
    e.reason match {
      case Success => ()
      case _: TaskKilled => tasksFailed.increment(); tasksKilled.increment()
      case _ => tasksFailed.increment()
    }
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      runMs.add(m.executorRunTime)
      remoteShuffleB.add(m.shuffleReadMetrics.remoteBytesRead)
      localShuffleB.add(m.shuffleReadMetrics.localBytesRead)
      tasks.add(1L)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.attemptNumber() > 0) stageReattempts.increment()

  override def onSpeculativeTaskSubmitted(e: SparkListenerSpeculativeTaskSubmitted): Unit =
    speculatableMarked.increment()

  override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
    executorsAdded.increment()

  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
    executorsRemoved.increment()

  /** Shuffle data/index blocks are tracked by the MapOutputTracker
    * and never reported to the BlockManager master in normal
    * execution; the only writer of a `shuffle_*` block update is a
    * decommissioning BlockManager handing its files to a peer.
    */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val id = e.blockUpdatedInfo.blockId.name
    if (id.startsWith("shuffle_")) shuffleBlocksMigrated.increment()
    else if (id.startsWith("rdd_") && System.nanoTime() > rddFenceNanos)
      rddBlocksMigrated.increment()
  }

  /** Drain, then zero every counter and close the rdd fence: the
    * drain keeps a previous pass's late events out of the next
    * pass's evidence.
    */
  def reset(s: SparkSession): Unit = {
    TaskMetricsProbe.drain(s)
    Seq(cpuNs, runMs, remoteShuffleB, localShuffleB, tasks,
      tasksStarted, tasksEnded, tasksFailed, tasksKilled,
      speculativeLaunched, speculatableMarked, stageReattempts,
      executorsAdded, executorsRemoved,
      shuffleBlocksMigrated, rddBlocksMigrated).foreach(_.reset())
    rddFenceNanos = Long.MaxValue
  }

  def snapshot(): TaskMetricsProbe.Snap = TaskMetricsProbe.Snap(
    cpuS = cpuNs.sum() / 1e9,
    runS = runMs.sum() / 1e3,
    remoteShuffleBytes = remoteShuffleB.sum(),
    localShuffleBytes = localShuffleB.sum(),
    tasks = tasks.sum())
}

object TaskMetricsProbe {
  final case class Snap(cpuS: Double, runS: Double,
      remoteShuffleBytes: Long, localShuffleBytes: Long, tasks: Long) {
    def -(o: Snap): Snap = Snap(cpuS - o.cpuS, runS - o.runS,
      remoteShuffleBytes - o.remoteShuffleBytes,
      localShuffleBytes - o.localShuffleBytes, tasks - o.tasks)
  }

  /** Install a probe on the session's listener bus. */
  def install(s: SparkSession): TaskMetricsProbe = {
    val p = new TaskMetricsProbe
    s.sparkContext.addSparkListener(p)
    p
  }

  /** Drain the async listener bus so a snapshot taken now reflects
    * every event of the actions that already returned. A drain
    * timeout degrades the boundary (the snapshot may be early), never
    * the run.
    */
  def drain(s: SparkSession): Unit =
    try org.apache.spark.graft.ListenerBusDrain.drain(s.sparkContext)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
