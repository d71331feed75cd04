package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

package object plans {

  /** Install a planner strategy once per session: check-then-set on the
    * session's `ExperimentalMethods` under its lock, so racing callers
    * neither drop nor duplicate an entry. [[AnnScanStrategy]] and
    * [[Bm25ScanStrategy]] install through it. */
  def installStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(strategy))
        ex.extraStrategies = ex.extraStrategies :+ strategy
    }
  }
}
