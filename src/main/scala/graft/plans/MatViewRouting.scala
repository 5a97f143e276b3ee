package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.TxFileIndex

/** Optimizer rule: route an aggregate over a BASE table to a maintained
  * SUMMARY table (materialized-view query rewrite — the classic OLAP
  * answer to "the view is maintained incrementally, now make queries USE
  * it"). A registered view declares the base table's exact scan file
  * set, the summary's plan, and the algebra mapping; a matching
  * `Aggregate` over the base scan is rewritten to a RE-AGGREGATION of
  * the summary (the summary's grain may be finer than the query's):
  *
  *   SELECT g, count(*), sum(x) FROM base GROUP BY g
  *     ==>  SELECT g, sum(cnt), sum(sum_x) FROM summary GROUP BY g
  *
  * Soundness: count/sum are self-decomposable (sum of per-group counts
  * = count; sum of partial sums = sum, REQUIRING identical input
  * datatypes so decimal precision/overflow behavior is unchanged — the
  * rewrite refuses a summary column whose type differs from the
  * original aggregate's input). Groups present in base are present in
  * the summary by the view's own definition; the rewrite only fires on
  * a scan whose file set is EXACTLY the registered one, so a base that
  * moved on (new commit = new file list) silently stops matching rather
  * than serving a stale answer — the registration is snapshot-pinned,
  * exactly like the TxTable snapshot it came from.
  *
  * Matching is conservative: one grouping column, aggregates limited to
  * `count(1)` / `count(*)` / `sum(col)` (casts stripped), anything else
  * leaves the plan untouched. Output attribute ids are preserved
  * (aliases minted with the original exprIds), so parent operators
  * resolve unchanged. At 100 TB this is the difference between scanning
  * the fact table and scanning a kilobyte summary — the rule is the
  * consumption half of the q182 incremental-view-maintenance loop.
  *
  * Registered per-view via [[register]]; [[enable]] attaches the rule to
  * a live session (also injected by [[graft.GraftExtensions]]). The
  * registry keys on exact file sets, so an enabled rule with no
  * matching registration is inert for every other query.
  */
object MatViewRouting extends Rule[LogicalPlan] {

  final case class Registration(baseFiles: Set[String],
      summaryPlan: LogicalPlan, groupCol: String, cntCol: String,
      sumCols: Map[String, String])

  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[Registration]

  /** Register base→summary routing. `base`/`summary` are DataFrames as
    * returned by the table reads (the base's scan file set is extracted
    * from its analyzed plan and pins the registration to that snapshot).
    * `sumCols` maps a base column to the summary column holding its
    * per-group partial sum; `cntCol` holds the per-group row count.
    *
    * A tx base pins its snapshot's files AND the deletion-vector blobs
    * its parquet reader applies, so a delete moves the pin exactly like
    * an append does: a summary built before the delete never serves a
    * read after it.
    */
  def register(base: DataFrame, summary: DataFrame, groupCol: String,
      cntCol: String, sumCols: Map[String, String]): Unit = {
    val files = base.queryExecution.analyzed.collect {
      case lr: LogicalRelation => pinOf(lr)
    }.flatten.toSet
    require(files.nonEmpty, "matview base has no file scan to pin")
    val r = Registration(files, summary.queryExecution.analyzed,
      groupCol, cntCol, sumCols)
    if (!registry.contains(r)) registry.add(r)
  }

  def clear(): Unit = registry.clear()

  /** The identity a base scan is pinned by: a tx relation's snapshot
    * (its root stays the same across commits, so the root alone would
    * pin nothing), any other file relation's root paths.
    */
  private def pinOf(lr: LogicalRelation): Seq[String] = lr.relation match {
    case h: HadoopFsRelation => h.location match {
      case t: TxFileIndex =>
        val root = t.rootPaths.map(_.toString).mkString(",")
        val snap = t.snap
        snap.files.flatMap(f => s"$root|$f" +:
          snap.dvs.getOrElse(f, Seq.empty).map(dv => s"$root|$f|dv|${dv._1}"))
      case other => other.rootPaths.map(_.toString)
    }
    case _ => Seq.empty
  }

  /** See through column-pruning Projects to the base scan. */
  @scala.annotation.tailrec
  private def baseScan(p: LogicalPlan): Option[LogicalRelation] = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      baseScan(c)
    case lr: LogicalRelation => Some(lr)
    case _ => None
  }

  @scala.annotation.tailrec
  private def stripCasts(e: Expression): Expression = e match {
    case c: Cast => stripCasts(c.child)
    case other => other
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    import scala.jdk.CollectionConverters._
    for {
      lr <- baseScan(agg.child)
      scan = pinOf(lr).toSet
      reg <- registry.asScala.find(_.baseFiles == scan)
      g <- agg.groupingExpressions match {
        case Seq(a: AttributeReference) if a.name == reg.groupCol => Some(a)
        case _ => None
      }
      sOut = reg.summaryPlan.output
      sGroup <- sOut.find(_.name == reg.groupCol)
      sCnt <- sOut.find(_.name == reg.cntCol)
      rewritten <- traverseAggs(agg.aggregateExpressions, g, sGroup, sCnt,
        reg, sOut)
    } yield Aggregate(Seq(sGroup), rewritten, reg.summaryPlan)
  }

  /** All-or-nothing translation of the aggregate list. */
  private def traverseAggs(aggs: Seq[NamedExpression],
      g: AttributeReference, sGroup: Attribute, sCnt: Attribute,
      reg: Registration,
      sOut: Seq[Attribute]): Option[Seq[NamedExpression]] = {
    val out = aggs.map {
      case a: AttributeReference if a.exprId == g.exprId =>
        Some(Alias(sGroup, a.name)(exprId = a.exprId))
      case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), _,
          false, None, _), name) =>
        Some(Alias(Sum(sCnt).toAggregateExpression(), name)(
          exprId = al.exprId))
      case al @ Alias(AggregateExpression(s: Sum, _, false, None, _),
          name) =>
        stripCasts(s.child) match {
          case a: AttributeReference =>
            for {
              sumName <- reg.sumCols.get(a.name)
              sAttr <- sOut.find(_.name == sumName)
              // identical input type => identical result type/semantics
              if sAttr.dataType == s.child.dataType
            } yield Alias(Sum(sAttr).toAggregateExpression(), name)(
              exprId = al.exprId)
          case _ => None
        }
      case _ => None
    }
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transform {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** Attach to an already-built session; safe to call repeatedly. */
  def enable(spark: SparkSession): Unit =
    OptimizerRules.attach(spark, this)
}
