package org.apache.spark.sql.graftinternal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one sanctioned crossing into Spark's private[sql] and
  * private[spark] surface, a bridge object under org.apache.spark.sql
  * (the same trick every published Spark connector/extension uses).
  * `Dataset.ofRows` is reached only by [[ofFileRelation]]; the other
  * members read `queryExecution`, clone a session or drain the
  * listener bus. Nothing else in graft touches non-public API.
  */
object PlanBridge {
  /** The file relation a `spark.read.<format>(path)` frame scans, if
    * its analyzed plan is exactly one.
    */
  def fileRelation(df: DataFrame): Option[LogicalRelation] =
    df.queryExecution.analyzed match {
      case lr @ LogicalRelation(_: HadoopFsRelation, _, None, false, None) =>
        Some(lr)
      case _ => None
    }

  /** A frame over an already-resolved file relation: no listing, no
    * schema inference. The relation is re-bound to `spark` (the scan
    * reads its session's conf) and gets fresh output attribute ids, so
    * two such frames in one query stay distinguishable, exactly like
    * two `spark.read` calls.
    */
  def ofFileRelation(spark: SparkSession, lr: LogicalRelation): DataFrame = {
    val rel = lr.relation.asInstanceOf[HadoopFsRelation]
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      lr.copy(relation = rel.copy()(spark)).newInstance())
  }

  /** Release the block-manager storage behind a `localCheckpoint`'d
    * frame NOW instead of waiting for the RDD to be GC'd and the
    * ContextCleaner to drain its weak reference — a long-lived
    * session (the bench runs every gate 3x) otherwise accumulates
    * dead checkpoint blocks until the next full garbage collection.
    * No-op on frames that are not checkpoint scans.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** A child session that INHERITS the parent's runtime SQL conf —
    * `newSession()` starts from the builder-time defaults, silently
    * dropping conf the caller set at runtime (e.g. a probe harness
    * disabling AQE coalescing); `cloneSession()` copies the live
    * session state. Its one caller is
    * [[graft.streaming.StreamGates]]' stream session: a stateful
    * query fixes its state-store count at first start and runs with
    * AQE off, so the stream gates set their shuffle width on a child
    * session instead of the caller's.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Block until every event posted so far has reached every listener
    * (the bus delivers asynchronously), so a listener's totals and the
    * storage sizes `getRDDStorageInfo` reports cover all jobs run so far.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
