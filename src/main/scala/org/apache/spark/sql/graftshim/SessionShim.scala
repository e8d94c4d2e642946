package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** The `private[sql]` door to a session fork. Keep these two pure wrappers. */
object SessionShim {

  /** A `cloneSession()` of `spark` with `confs` set on the clone only. */
  def fork(spark: SparkSession, confs: Map[String, String]): SparkSession = {
    val f = spark.asInstanceOf[ClassicSession].cloneSession()
    confs.foreach { case (k, v) => f.sessionState.conf.setConfString(k, v) }
    f
  }

  /** `df`'s plan as a frame of `spark` (`Dataset.ofRows`); runs nothing. */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession],
      df.asInstanceOf[ClassicDataset[_]].logicalPlan)
}
