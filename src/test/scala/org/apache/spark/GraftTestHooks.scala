package org.apache.spark

/** Test-only bridge into `private[spark]` SparkContext state.
  *
  * SparkContext exposes setCheckpointDir but no way to UNSET it, and the
  * test JVM shares one context across suites — a spec that flips the
  * reliable-checkpoint branch on (DurableCheckpointSpec) must be able to
  * restore the default local-checkpoint behavior for every suite that runs
  * after it. `checkpointDir` is `private[spark]`, so the reset lives in
  * this package, same technique as graft's ColumnBridge.
  */
object GraftTestHooks {
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  /** Block until every event posted so far has reached the listeners, so
    * a spec's SparkListener has seen all jobs of the call it measured. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
