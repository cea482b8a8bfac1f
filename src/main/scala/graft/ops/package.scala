package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object ops {

  /** Eager localCheckpoint with a stats/lineage reset — the iterative-
    * loop discipline every multi-action frame and loop state uses:
    * materialize `df` exactly once and rebuild it from the checkpointed
    * RDD, so neither its lineage nor Catalyst's size statistics (whose
    * BigInt join-size products compound across checkpointed join
    * iterations) carry into later plans.
    */
  private[ops] def pin(s: SparkSession, df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    s.createDataFrame(cp.rdd, cp.schema)
  }
}
