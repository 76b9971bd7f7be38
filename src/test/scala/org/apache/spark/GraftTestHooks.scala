package org.apache.spark

/** Engine internals that specs need and the public API does not expose. */
object GraftTestHooks {

  /** Drop every cached block of an RDD while it stays marked persisted:
    * what losing the executors that held the blocks does to it. */
  def dropBlocks(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)
}
