// In Spark's storage package so a spec can read the block manager's
// private[storage] lock table.
package org.apache.spark.storage

import org.apache.spark.SparkEnv

/** What running and finished tasks still hold in this JVM's block and
  * memory managers: a task that ended cleanly leaves nothing. */
object TaskHoldings {
  private def blocks: BlockInfoManager = SparkEnv.get.blockManager.blockInfoManager

  /** Block read locks held, summed over every block. */
  def readLocks(): Int = blocks.entries.map(_._2.readerCount).sum

  /** Task attempts registered with the block manager (the driver's own
    * non-task writer included): a task that ended is unregistered. The
    * table is private to its class, hence the reflection. */
  def registeredTasks(): Int = {
    val f = classOf[BlockInfoManager].getDeclaredField("readLocksByTask")
    f.setAccessible(true)
    f.get(blocks).asInstanceOf[java.util.Map[_, _]].size
  }

  /** Execution memory in use, on and off heap. */
  def executionMemoryUsed(): Long = SparkEnv.get.memoryManager.executionMemoryUsed
}
