package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, TableScan}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.TxTable

/** DPP for COLUMN-MAPPED snapshots: `partitionedRead` used to refuse
  * any snapshot with a column mapping (until r18), so one RENAME COLUMN
  * knocked a DPP-read fact table back to the flat posture until a full
  * rewrite. The composition that fixes it: keep ONE partition-surfaced
  * `HadoopFsRelation` scan over ALL files (DPP- and
  * partition-prune-eligible, vectorized) reading the PHYSICAL
  * vintage-name union, and apply the exact vintage-coalescing
  * projection above it (`projectLogical`'s argument: a file carries
  * exactly one vintage of a column). Live deletion vectors need nothing
  * here: the base [[TxBatchRelation]]'s parquet reader drops them
  * ([[TxParquetFileFormat]]), and a DV-only snapshot never reaches this
  * rule — the connector plans it as a plain surfaced [[TxBatchRelation]].
  * Partition values come from the alias-aware index, never the file
  * bytes, and the partition attribute passes through the projection
  * untouched — which is what keeps the scan DPP-eligible.
  *
  * [[TxMorPartitionedSurrogate]] is the analysis-time handle: the
  * relation itself must never plan (a raw scan would null out renamed
  * columns), so it carries no scannable shape — [[TxMorDppRouting]]
  * (injected by GraftExtensions) rewrites its LogicalRelation into the
  * composed subplan during resolution, and the connector refuses the
  * posture up-front in sessions without the rule.
  */
final class TxMorPartitionedSurrogate(val spark: SparkSession,
    val root: String, val snap: TxTable.Snapshot,
    val opts: Map[String, String],
    val partitionFields: Seq[StructField])
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType =
    TxDataSource.schemaOf(spark, root, snap)

  /** Never reached in a correctly-wired session; loud if it is. */
  override def buildScan(): RDD[Row] =
    throw new IllegalStateException(
      s"txtable $root: a column-mapped partitionedRead relation was " +
        "planned without the TxMorDppRouting rewrite — the raw scan " +
        "would null out renamed columns. Build the session with " +
        "GraftExtensions")

  override def toString: String =
    s"TxMorPartitionedSurrogate[$root v${snap.version}]"
}

/** Analyzer rule: expand a [[TxMorPartitionedSurrogate]] into the
  * partition-surfaced scan + vintage coalesce, remapping the subplan's
  * output onto the original relation's attribute ids so every
  * downstream reference resolves unchanged.
  */
final case class TxMorDppRouting(spark: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case lr @ LogicalRelation(
            m: TxMorPartitionedSurrogate, _, _, _, _) =>
        val partNames = m.partitionFields.map(_.name).toSet
        // the scan's dataSchema is the PHYSICAL vintage-name union: a
        // column-mapped snapshot's files keep write-time names, so each
        // logical field expands to every name files may use for it —
        // EXCEPT surfaced partition fields, whose values come from the
        // alias-aware index (never the file bytes), so only the logical
        // name stays (HadoopFsRelation's overlap resolution then reads
        // it from the PartitionDirectory rows).
        val physSchema = StructType(m.schema.fields.flatMap { f =>
          if (partNames.contains(f.name)) Seq(f)
          else TxTable.namesOf(m.snap, f.name).map(n =>
            StructField(n, f.dataType, nullable = true))
        })
        val base = new TxBatchRelation(m.spark, m.root, m.snap,
          insertable = false, m.opts, m.partitionFields,
          dataSchemaOverride = Some(physSchema))
        val scanDf = m.spark.baseRelationToDataFrame(base)
        // vintage coalesce up to the LOGICAL schema: a file carries
        // exactly one vintage of a column, so coalesce is exact (the
        // projectLogical argument); partition fields project directly —
        // their attribute passes through untouched, which is what keeps
        // the scan DPP-eligible under the projection
        val clean = scanDf.select(m.schema.fields.toIndexedSeq.map { f =>
          val vs = TxTable.namesOf(m.snap, f.name)
          if (partNames.contains(f.name) || vs.size == 1) col(f.name)
          else coalesce(vs.map(col): _*).as(f.name)
        }: _*)
        val sub = clean.queryExecution.analyzed
        Project(lr.output.zip(sub.output).map { case (orig, neo) =>
          Alias(neo, orig.name)(exprId = orig.exprId) }, sub)
    }
}
