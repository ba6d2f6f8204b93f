package org.apache.spark.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager

/** Task-memory-manager bridge for [[graft.ops.LongRunSort]].
  *
  * The kernel's chunk buffer is acquired as an execution-memory grant so
  * Spark's memory manager can see it (and ask the kernel to spill under
  * pressure) instead of the buffer coexisting beside the managed
  * consumers by arithmetic. `TaskContext.taskMemoryManager()` is
  * `private[spark]`, hence this one-method shim in the
  * `org.apache.spark` package tree (the [[org.apache.spark.sql.graftbridge.CacheBridge]]
  * pattern).
  */
object MemoryBridge {

  /** The running task's memory manager, or null outside a task. */
  def taskMemoryManager(ctx: TaskContext): TaskMemoryManager =
    if (ctx == null) null else ctx.taskMemoryManager()

  /** Credit a kernel spill to the task's spill metrics (the same two
    * counters Spark's own sorters increment: memory = in-memory bytes
    * released by the spill, disk = bytes written to the spill file).
    * `TaskMetrics`' increments are `private[spark]` — without this the
    * kernel's LZ4 spill files are invisible to Spark's per-stage spill
    * metrics and the UI, leaving per-stage wall as the only readout of
    * a spilling stats stage (the r15 observability caveat). No-op
    * outside a task. */
  def addSpillMetrics(ctx: TaskContext, memBytes: Long, diskBytes: Long): Unit =
    if (ctx != null && ctx.taskMetrics() != null) {
      ctx.taskMetrics().incMemoryBytesSpilled(memBytes)
      ctx.taskMetrics().incDiskBytesSpilled(diskBytes)
    }
}
