package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskKilled
import org.apache.spark.scheduler.SparkListenerTaskEnd
import org.apache.spark.sql.SparkSession

/** Posts scheduler events onto the listener bus (`private[spark]`), for
  * tests of code that listens for them.
  */
object TestBus {

  /** The end of a task attempt that was killed, as the scheduler posts it
    * for a speculative copy that lost or a task of a cancelled stage. It
    * names no task info, so Spark's own status listeners skip it.
    */
  def postKilledAttempt(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.post(SparkListenerTaskEnd(-1, 0, "ResultTask",
      TaskKilled("posted by a test"), null, null, null))
}
