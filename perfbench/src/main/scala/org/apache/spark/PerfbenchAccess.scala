package org.apache.spark

/** The one package-private Spark call the benchmark needs: waiting until
  * the listener bus has delivered every event posted so far, so a traced
  * run reads complete job, stage and micro-batch records. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
