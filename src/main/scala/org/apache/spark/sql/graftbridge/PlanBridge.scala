package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.ExternalRDD

/** Runs an analyzed plan again over new input without analyzing it again,
  * through the `private[sql]` members this needs: `classic.Dataset.ofRows`
  * and its id counter, `ObservationManager.register` and
  * `LogicalPlan.setAnalyzed`. Written against Spark 4.1.2.
  */
object PlanBridge {
  /** `template` with its one RDD leaf (an `ExternalRDD`, as
    * `createDataset(rdd)` builds) reading `rows`, and its one
    * `CollectMetrics` reporting to `obs` under a fresh observation id, as a
    * DataFrame over a plan marked analyzed. The leaf keeps its output
    * attribute, so every node above it stays bound. A template with any
    * other count of either node throws `IllegalStateException`: Spark
    * changed the plan `Dataset.observe` or `createDataset` builds.
    */
  def rebind[T](spark: SparkSession, template: LogicalPlan, rows: RDD[T],
      obs: Observation): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val id = classic.Dataset.curId.getAndIncrement()
    var leaves, metrics = 0
    val plan = template.transformDown {
      case r: ExternalRDD[_] =>
        leaves += 1
        ExternalRDD(r.outputObjAttr, rows)(session)
      case c: CollectMetrics =>
        metrics += 1
        c.copy(name = obs.name, dataframeId = id)
    }
    if (leaves != 1 || metrics != 1) throw new IllegalStateException(
      s"rebinding an analyzed plan replaced $leaves RDD leaves and $metrics CollectMetrics " +
        s"nodes, not one each: its shape under Spark ${spark.version} differs from the " +
        "one this was written for (Spark 4.1.2)")
    plan.setAnalyzed()
    session.observationManager.register(obs, id)
    classic.Dataset.ofRows(session, plan)
  }
}
