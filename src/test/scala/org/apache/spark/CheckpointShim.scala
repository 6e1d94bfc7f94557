package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Test-only reach into Spark internals the lineage-cut spec needs.
  * Spark lets a session set its checkpoint dir but not clear it: the
  * field is `private[spark]` in Scala (its setter is public in the
  * bytecode), so this shim lives in Spark's package. */
object CheckpointShim {

  /** Back to "no checkpoint dir": the state every session starts in
    * unless `spark.checkpoint.dir` is set. */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  /** Block until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isLocallyCheckpointed(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
