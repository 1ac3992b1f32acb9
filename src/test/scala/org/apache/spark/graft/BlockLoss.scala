package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Fault injection for specs: loses cached blocks the way a dead executor
  * does — the blocks are gone, the RDD stays marked as persisted. */
object BlockLoss {

  /** Ids of the RDDs the leaves of `df`'s plan read from (a materialized
    * frame's cached rows). */
  def leafRdds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  /** Removes every cached block of `df`'s leaf RDDs and waits until they
    * are gone; returns how many RDDs lost their blocks. */
  def dropBlocks(df: DataFrame): Int = {
    val ids = leafRdds(df)
    ids.foreach(SparkEnv.get.blockManager.master.removeRdd(_, blocking = true))
    ids.size
  }
}
