package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the traced run reads: the listener bus,
  * which it must drain before reading an operation's events, and the
  * operator scopes of a stage's RDDs, which name the scans it ran. */
object SparkInternals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def scopes(si: StageInfo): Seq[String] = si.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
