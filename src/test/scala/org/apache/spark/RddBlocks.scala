package org.apache.spark

/** Drops every stored block of one RDD, as an executor loss would
  * (`SparkEnv.blockManager` is `private[spark]`, hence this shim). */
object RddBlocks {
  def remove(rddId: Int): Unit =
    SparkEnv.get.blockManager.master.removeRdd(rddId, blocking = true)
}
