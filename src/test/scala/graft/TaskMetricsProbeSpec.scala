package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's deployment-independent CPU attribution: task metrics
  * must accumulate for real work, deltas must be boundary-clean after
  * a drain, and the local-master invariant (every shuffle read is
  * LOCAL — one BlockManager) must hold, because its violation is
  * exactly the multi-executor evidence `remote_mb` exists to carry.
  */
class TaskMetricsProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("task metrics accumulate across a shuffle and drain is boundary-clean") {
    val probe = TaskMetricsProbe.install(spark)
    TaskMetricsProbe.drain(spark)
    val before = probe.snapshot()
    spark.range(0, 200000, 1, 8)
      .selectExpr("id % 97 as k")
      .groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    TaskMetricsProbe.drain(spark)
    val delta = probe.snapshot() - before
    assert(delta.tasks > 0, "completed tasks must be recorded")
    assert(delta.cpuS > 0, "executor CPU must be recorded")
    assert(delta.runS >= delta.cpuS * 0.1, "run time accompanies CPU time")
    // one JVM, one BlockManager: every shuffle-read byte is local
    assert(delta.remoteShuffleBytes == 0,
      "local[n] cannot produce remote shuffle reads")
    assert(delta.localShuffleBytes > 0,
      "the groupBy above must read its shuffle locally")
    // boundary cleanliness: after a drain with no further actions the
    // snapshot is stable
    TaskMetricsProbe.drain(spark)
    val idle = probe.snapshot() - probe.snapshot()
    assert(idle.tasks == 0 && idle.cpuS == 0.0)
    // the fault-mode counters: every started task ended, none failed,
    // and reset zeroes everything
    assert(probe.tasksStarted.sum() == probe.tasksEnded.sum())
    assert(probe.tasksEnded.sum() >= delta.tasks && probe.tasksFailed.sum() == 0)
    probe.reset(spark)
    assert(probe.snapshot() == TaskMetricsProbe.Snap(0.0, 0.0, 0L, 0L, 0L))
    assert(probe.tasksStarted.sum() == 0 && probe.tasksEnded.sum() == 0)
  }
}
