package org.apache.spark.sql.execution

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** The size estimate a local checkpoint carries, readable and replaceable
  * from outside Spark's package. `localCheckpoint()` copies its lineage's
  * estimate into the new `LogicalRDD`; a loop that checkpoints a plan built
  * over the previous checkpoint therefore compounds that estimate round
  * after round. Replacing it costs no job: only the plan node changes, the
  * materialized blocks are the same.
  */
object CheckpointStats {
  def sizeInBytes(checkpoint: DataFrame): BigInt = rdd(checkpoint).stats.sizeInBytes

  def withSizeInBytes(checkpoint: DataFrame, sizeInBytes: BigInt): DataFrame = {
    val r = rdd(checkpoint)
    val session = checkpoint.sparkSession.asInstanceOf[SparkSession]
    Dataset.ofRows(session, r.copy()(session, Some(Statistics(sizeInBytes)), Some(r.constraints)))
  }

  private def rdd(checkpoint: DataFrame): LogicalRDD = checkpoint.queryExecution.logical match {
    case r: LogicalRDD => r
    case p             => throw new IllegalArgumentException(s"not a checkpoint: ${p.nodeName}")
  }
}
