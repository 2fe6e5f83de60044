package org.apache.spark.storage

import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.sql.GraftShim

/** Test access to what a calling-thread evaluation
  * ([[GraftShim.evalLocally]]) leaves in the block manager and the
  * memory manager.
  */
object LocalTasks {

  /** The synthetic attempts the block manager still tracks: registered
    * in its lock table, or recorded as a block's writer.
    */
  def tracked(sc: SparkContext): Set[Long] = {
    val locks = sc.env.blockManager.blockInfoManager
    val field = classOf[BlockInfoManager].getDeclaredField("readLocksByTask")
    field.setAccessible(true)
    val registered = field.get(locks).asInstanceOf[java.util.Map[Any, Any]].keySet.asScala
      .map(_.asInstanceOf[Long])
    (registered ++ locks.entries.map(_._2.writerTask)).filter(isSynthetic).toSet
  }

  def isSynthetic(attempt: Long): Boolean = attempt >= GraftShim.LocalAttemptBase

  def executionMemoryUsed(sc: SparkContext): Long = sc.env.memoryManager.executionMemoryUsed
}
