package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.storage.{BlockManagerId, BlockUpdatedInfo, RDDBlockId, StorageLevel}

/** The two Spark internals the harness needs, behind one narrow door:
  * draining the listener bus (so a pass's events are all delivered
  * before the pass is aggregated) and building task metrics by hand
  * (so the listener's aggregation can be tested on a recorded event
  * sequence without running a job). */
object SparkAccess {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def taskMetrics(runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
                  inRecords: Long, shuffleWrite: Long, shuffleRead: Long,
                  spill: Long): TaskMetrics = {
    val m = TaskMetrics.empty
    m.setExecutorRunTime(runMs)
    m.setExecutorCpuTime(cpuNs)
    m.setJvmGCTime(gcMs)
    m.inputMetrics.incBytesRead(inBytes)
    m.inputMetrics.incRecordsRead(inRecords)
    m.shuffleWriteMetrics.incBytesWritten(shuffleWrite)
    m.shuffleReadMetrics.incLocalBytesRead(shuffleRead)
    m.incMemoryBytesSpilled(spill)
    m
  }

  /** A block-manager report that RDD block (rdd, part) now holds `bytes`
    * in memory (0 = removed). */
  def rddBlockUpdate(rdd: Int, part: Int, bytes: Long): BlockUpdatedInfo =
    BlockUpdatedInfo(BlockManagerId("driver", "localhost", 1), RDDBlockId(rdd, part),
      if (bytes > 0) StorageLevel.MEMORY_ONLY else StorageLevel.NONE, bytes, 0L)
}
