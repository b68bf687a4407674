package org.apache.spark

/** The engine internals the traced run needs, re-exported from
  * Spark's own namespace: draining the listener bus before reading
  * what the listeners recorded, listing the RDD blocks the block
  * manager still holds (blocks of an RDD the driver has already
  * forgotten never show in `getRDDStorageInfo`), and the number of
  * generated classes Janino has compiled. */
object PerfBenchBridge {
  def codegenCompiles(): Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount


  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** RDD id of every block the local block manager holds. */
  def rddBlockOwners(): Seq[Int] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).toSeq
      .collect { case storage.RDDBlockId(rddId, _) => rddId }
}
