package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.sources.{TxBatchRelation, TxFileIndex, TxMorRelation}

/** Spec seam for manifest pruning: the files the ONE pruning path
  * ([[TxFileIndex.prunedFiles]]) keeps when `cond` filters a
  * `format("tx")` read of `root` — the condition resolved and optimized
  * exactly as the planned scan would receive it, evaluated by the
  * relation's own index (TxBatchRelation for clean and DV-only
  * snapshots, TxMorRelation for column-mapped ones), without executing
  * anything.
  */
object TxPrune extends PredicateHelper {

  def files(spark: SparkSession, root: String, cond: Column): Seq[String] = {
    val plan = spark.read.format("tx").load(root).filter(cond)
      .queryExecution.optimizedPlan
    val index = plan.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[TxBatchRelation] =>
        l.relation.asInstanceOf[TxBatchRelation].index
      case l: LogicalRelation if l.relation.isInstanceOf[TxMorRelation] =>
        l.relation.asInstanceOf[TxMorRelation].index
    }.getOrElse(throw new AssertionError(s"no tx relation in\n$plan"))
    index.prunedFiles(plan.collect {
      case Filter(c, _) => splitConjunctivePredicates(c)
    }.flatten)
  }
}
