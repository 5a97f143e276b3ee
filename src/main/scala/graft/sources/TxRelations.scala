package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, PrunedFilteredScan}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.operators.TxTable

/** The two batch relation shapes behind `format("tx")`, both writable
  * via `INSERT INTO` (SQL parity for the S8/S9 write surface —
  * `Transform Silver Data.py:44-45`'s saveAsTable/CTAS posture carried
  * through to row-level SQL DML):
  *
  *   - [[TxBatchRelation]] — a snapshot without a column mapping
  *     (clean, or carrying live deletion vectors) maps 1:1 onto Spark's
  *     file scan: a `HadoopFsRelation` over [[TxFileIndex]], so manifest
  *     pruning runs inside Catalyst planning and the scan is the native
  *     parquet reader, with DVs applied inside it by physical row index
  *     ([[TxParquetFileFormat]]) — one `FileSourceScanExec`, one job.
  *     Subclassing (rather than returning `HadoopFsRelation` itself)
  *     adds `InsertableRelation`, which BOTH routes `INSERT INTO`
  *     through `TxTable.commit` (Spark's DataSourceAnalysis matches
  *     InsertableRelation before HadoopFsRelation) AND retires a
  *     data-loss hazard: the raw HadoopFsRelation match would have sent
  *     `INSERT OVERWRITE` through InsertIntoHadoopFsRelationCommand,
  *     truncating the table root — manifests included — behind the
  *     manifest protocol's back.
  *
  *   - [[TxMorRelation]] — a COLUMN-MAPPED snapshot (renamed or dropped
  *     columns, with or without DVs) cannot take the file-granular scan
  *     (vintage columns must coalesce), so it composes the TxTable read
  *     seams under a `PrunedFilteredScan`: pushed filters prune the
  *     manifest through the SAME alias-aware [[TxFileIndex]], the
  *     survivors read through `TxTable.readFilesWithDvs` (the parquet
  *     scan with DVs applied in the reader + vintage coalesce, the exact
  *     `TxTable.read` shape), translatable predicates re-apply inside
  *     the scan for parquet row-group pushdown, and
  *     `needConversion = false` hands the inner plan's InternalRows
  *     straight through — no row conversion at the boundary. Spark
  *     re-applies every predicate above the scan (`unhandledFilters`
  *     returns all), so pruning and inner filtering only ever remove
  *     provably-dead work.
  *
  * This is what closes the composition gap: one `deleteWhere` or
  * `tx_rename_column` no longer exiles a table from
  * `spark.read.format("tx")` — a delete keeps the file-granular shape,
  * and a column mapping degrades it to the mapping-aware scan instead
  * of refusing.
  */
private[sources] object TxRelations {

  /** Shared `INSERT INTO` implementation: one `TxTable.commit` carrying
    * the relation's declared layout options (partitionBy/clusterBy/
    * stats/bloom from the `USING tx OPTIONS(...)` clause), Append for
    * `INSERT INTO`, Overwrite for `INSERT OVERWRITE`. Time-travel and
    * version-window relations refuse — writing "into the past" has no
    * meaning under the manifest protocol.
    */
  def insertInto(spark: SparkSession, root: String, data: DataFrame,
      overwrite: Boolean, insertable: Boolean,
      opts: Map[String, String], surfaced: Seq[String] = Nil): Long = {
    if (!insertable) throw new java.io.IOException(
      s"txtable $root: cannot INSERT INTO a time-travel or version-window " +
        "relation (versionAsOf/timestampAsOf/startingVersion) — load the " +
        "table head to write")
    def csv(k: String): Seq[String] =
      opts.get(k).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    // a relation serving `partitionedRead` promised its reader that EVERY
    // snapshot file carries recorded part values for the surfaced columns
    // — an insert committing files without them would succeed and then
    // permanently break the posture on LATER reads (partitionTuple throws
    // on the uncovered file). The refusal must land on the WRITE: an
    // insert with no declared layout inherits the surfaced columns (the
    // partition layout is table-owned, Delta's insertInto semantics); an
    // explicitly declared layout must cover them or refuse here.
    val declared = csv("partitionby")
    val partCols =
      if (surfaced.isEmpty) declared
      else if (declared.isEmpty) surfaced
      else {
        val missing = surfaced.filterNot(declared.contains)
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"txtable $root: INSERT INTO a partitionedRead relation must " +
            s"cover its surfaced partition column(s) " +
            s"${surfaced.mkString(", ")} — the declared partitionBy " +
            s"(${declared.mkString(", ")}) misses ${missing.mkString(", ")}" +
            ", which would commit files the surfaced posture cannot read")
        declared
      }
    TxTable.commit(spark, root, data,
      if (overwrite) TxTable.Overwrite else TxTable.Append,
      clusterBy = opts.get("clusterby"),
      statsCols = csv("statscols"),
      bloomCols = csv("bloomcols"),
      partitionCols = partCols,
      bucketByMulti = TxDataSource.bucketOf(opts))
  }

  /** `sources.Filter` → Catalyst expression over the relation schema's
    * attributes, for [[TxFileIndex.prunedFiles]] (which speaks pushed
    * Catalyst predicates). Conservative: an untranslatable node drops
    * out (keep-all), a half-translatable AND keeps its translatable
    * side (sound — prune predicates compose conjunctively), an OR needs
    * both sides or neither.
    */
  def toPruneExpr(schema: StructType, f: Filter): Option[Expression] = {
    def attr(name: String): Option[AttributeReference] =
      schema.fields.find(_.name == name)
        .map(sf => AttributeReference(sf.name, sf.dataType, sf.nullable)())
    f match {
      case sources.EqualTo(a, v) =>
        attr(a).map(ar => expressions.EqualTo(ar, Literal(v)))
      case sources.EqualNullSafe(a, v) =>
        attr(a).map(ar => expressions.EqualNullSafe(ar, Literal(v)))
      case sources.GreaterThan(a, v) =>
        attr(a).map(ar => expressions.GreaterThan(ar, Literal(v)))
      case sources.GreaterThanOrEqual(a, v) =>
        attr(a).map(ar => expressions.GreaterThanOrEqual(ar, Literal(v)))
      case sources.LessThan(a, v) =>
        attr(a).map(ar => expressions.LessThan(ar, Literal(v)))
      case sources.LessThanOrEqual(a, v) =>
        attr(a).map(ar => expressions.LessThanOrEqual(ar, Literal(v)))
      case sources.In(a, vs) =>
        attr(a).map(ar => expressions.In(ar, vs.toIndexedSeq.map(Literal(_))))
      case sources.IsNull(a) => attr(a).map(expressions.IsNull)
      case sources.IsNotNull(a) => attr(a).map(expressions.IsNotNull)
      case sources.And(l, r) =>
        (toPruneExpr(schema, l), toPruneExpr(schema, r)) match {
          case (Some(le), Some(re)) => Some(expressions.And(le, re))
          case (one, other) => one.orElse(other)
        }
      case sources.Or(l, r) =>
        for {
          le <- toPruneExpr(schema, l)
          re <- toPruneExpr(schema, r)
        } yield expressions.Or(le, re)
      case _ => None
    }
  }

  /** `sources.Filter` → a DataFrame `Column` predicate for the INNER
    * scan, so parquet row-group/page pushdown fires inside the
    * surviving files. Best-effort: anything untranslatable is simply
    * not pushed (Spark re-applies the exact predicate above the scan).
    */
  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.StringEndsWith(a, p) => Some(col(a).endsWith(p))
    case sources.StringContains(a, p) => Some(col(a).contains(p))
    case sources.Not(c) => toColumn(c).map(!_)
    case sources.And(l, r) =>
      (toColumn(l), toColumn(r)) match {
        case (Some(lc), Some(rc)) => Some(lc && rc)
        case (one, other) => one.orElse(other) // conjunct: partial is sound
      }
    case sources.Or(l, r) =>
      for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case _ => None
  }
}

/** The parquet FileFormat tx relations declare: reads are stock
  * vectorized parquet, with the pinned snapshot's DELETION VECTORS
  * applied inside the reader; WRITES REFUSE.
  *
  * Deletion vectors: when the relation's snapshot ([[TxFileIndex.snap]],
  * read when the scan is planned, so a relation repinned by `INSERT
  * INTO` applies its new head's DVs) has live DVs, the deleted positions
  * are loaded on the driver ([[TxTable.liveDvPositions]] — parquet-mr,
  * no Spark job), keyed by row identity, and shipped in one broadcast.
  * The reader then asks parquet for each row's PHYSICAL row index (the
  * `_metadata.row_index` generator, which stays physical when pushed
  * filters skip row groups), drops rows whose index is in their file's
  * sorted position array, and projects the index column away again
  * unless the query selected `_metadata.row_index` itself. A DV scan is
  * row-based (`supportBatch` off); a snapshot without live DVs takes
  * Spark's reader unchanged — no position map, no wrapper. This is
  * Delta's `DeltaParquetFileFormat` shape, and what lets a DV-only
  * snapshot plan as one `FileSourceScanExec` with Catalyst pruning.
  *
  * Writes: a tx table is written only through the manifest commit
  * protocol — but Spark's analyzer routes `INSERT INTO` a PARTITIONED
  * HadoopFsRelation to `InsertIntoHadoopFsRelationCommand` (see
  * [[TxInsertRouting]]), a raw file write into the table root that no
  * manifest would ever reference: a "successful" insert whose rows every
  * tx read ignores. Sessions with GraftExtensions re-route that
  * statement; sessions without get stopped HERE, at prepareWrite, before
  * one byte lands.
  */
final class TxParquetFileFormat(root: String = null,
    @transient private val index: TxFileIndex = null)
    extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {

  private def dvSnapshot: Option[TxTable.Snapshot] =
    Option(index).map(_.snap).filter(TxTable.hasLiveDvs)

  override def supportBatch(sparkSession: SparkSession,
      schema: StructType): Boolean =
    dvSnapshot.isEmpty && super.supportBatch(sparkSession, schema)

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] = dvSnapshot match {
    case None =>
      super.buildReaderWithPartitionValues(sparkSession, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    case Some(snap) =>
      if (options.get(FileFormat.OPTION_RETURNING_BATCH).contains("true"))
        throw new IllegalStateException(s"txtable $root v${snap.version}: " +
          "a columnar scan was planned over live deletion vectors")
      val deleted = sparkSession.sparkContext.broadcast(
        TxTable.liveDvPositions(hadoopConf, root, snap))
      val idxName = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
      val selected = requiredSchema.fieldNames.indexOf(idxName)
      val readSchema =
        if (selected >= 0) requiredSchema
        // nullable: parquet refuses a required column the file lacks
        else requiredSchema.add(StructField(idxName, LongType, nullable = true))
      val read = super.buildReaderWithPartitionValues(sparkSession,
        dataSchema, partitionSchema, readSchema, filters, options, hadoopConf)
      // reader rows are readSchema ++ partitionSchema; the output drops
      // the index column again when the query did not ask for it
      val inTypes = (readSchema ++ partitionSchema).map(_.dataType)
      val idx = if (selected >= 0) selected else requiredSchema.length
      val keep =
        if (selected >= 0) None
        else Some(inTypes.indices.filter(_ != idx).map(i => (i, inTypes(i))))
      TxParquetFileFormat.dvFiltered(read, deleted, idx, keep)
  }

  override def prepareWrite(sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String], dataSchema: StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "direct file writes into a tx table are forbidden — they would " +
        "bypass the manifest protocol and the written rows would be " +
        "invisible to every read. Write through df.write.format(\"tx\") " +
        "/ TxTable.commit, or build the session with GraftExtensions " +
        "so INSERT INTO partitioned tx relations routes through the " +
        "commit protocol")
  override def toString: String = "TxParquet"
}

private object TxParquetFileFormat {

  /** The per-file reader with DV rows dropped. Built here, not in the
    * format, so the task closure captures only the broadcast and the
    * column layout.
    */
  def dvFiltered(read: PartitionedFile => Iterator[InternalRow],
      deleted: Broadcast[Map[String, Array[Long]]], idx: Int,
      keep: Option[Seq[(Int, DataType)]])
      : PartitionedFile => Iterator[InternalRow] = { file =>
    val positions = deleted.value.getOrElse(
      TxTable.identityOfScanPath(file.urlEncodedPath), null)
    val project = keep.map(cols => UnsafeProjection.create(
      cols.map { case (i, t) => BoundReference(i, t, nullable = true) }))
    new DvFilterIterator(read(file), positions, idx, project.orNull)
  }

  /** Drops rows whose physical row index (column `idx`) is in the sorted
    * `deleted` array (null: nothing deleted in this file), then applies
    * `project` (null: pass through). Closeable, so the scan still closes
    * the parquet reader underneath when a task stops early.
    */
  final class DvFilterIterator(rows: Iterator[InternalRow],
      deleted: Array[Long], idx: Int, project: UnsafeProjection)
      extends Iterator[InternalRow] with java.io.Closeable {
    private var pending: InternalRow = null

    override def hasNext: Boolean = {
      while (pending == null && rows.hasNext) {
        val r = rows.next()
        if (deleted == null ||
            java.util.Arrays.binarySearch(deleted, r.getLong(idx)) < 0)
          pending = r
      }
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("end of file rows")
      val r = pending
      pending = null
      if (project == null) r else project(r)
    }

    override def close(): Unit = rows match {
      case c: java.io.Closeable => c.close()
      case _ => ()
    }
  }
}

/** Snapshot relation: Spark's own parquet `HadoopFsRelation` over the
  * manifest-pruning [[TxFileIndex]], plus `InsertableRelation` so
  * `INSERT INTO ... USING tx` commits through the manifest protocol.
  * Clean and DV-only snapshots both take it — live deletion vectors are
  * applied inside [[TxParquetFileFormat]]'s reader. After a successful
  * insert the relation's index REPINS to the new head — a temp view
  * created before the insert reads its own write, with that head's DVs.
  */
class TxBatchRelation private (spark: SparkSession, root: String,
    txIndex: TxFileIndex, insertable: Boolean,
    opts: Map[String, String],
    partitionBy: Seq[StructField], fileSchema: StructType)
  extends HadoopFsRelation(
    txIndex, StructType(partitionBy),
    // dataSchema stays the FULL table schema — the duplicate-tag layout
    // keeps partition columns in the files too, and HadoopFsRelation's
    // overlap resolution keeps them at their data-schema position while
    // reading their values from the PartitionDirectory rows (so the
    // surfaced posture changes the plan, never the answer)
    fileSchema,
    // a manifest-declared hash-bucket layout surfaces as a real
    // BucketSpec: the scan groups files by the bucket id in their name
    // (Spark's own convention, written by the bucketed committer) and
    // reports HashPartitioning — joins/aggregations on the bucket
    // column plan WITHOUT an exchange. sortColumnNames = the bucket
    // columns, on the committer's invariant that every bucketed file
    // is sorted within its bucket — single-file buckets then also
    // report SortOrder and the merge join drops its sorts (Spark
    // itself withholds the ordering for multi-file buckets). Sound
    // because the commit protocol enforces the layout on every append
    // and DROPS the declaration on any rewrite that could break it;
    // in-place DV deletes keep both the bucket and the in-file order.
    txIndex.snap.bucketSpec.map { case (n, cols) =>
      org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols, cols) },
    new TxParquetFileFormat(root, txIndex), opts)(spark)
  with InsertableRelation {

  def this(spark: SparkSession, root: String, snap: TxTable.Snapshot,
      insertable: Boolean, opts: Map[String, String],
      partitionBy: Seq[StructField] = Nil,
      // column-mapped composition (r18): the surrogate expansion scans
      // the PHYSICAL vintage-name union and coalesces above — everything
      // else keeps the logical default
      dataSchemaOverride: Option[StructType] = None) =
    this(spark, root, new TxFileIndex(root, snap, partitionBy), insertable,
      opts, partitionBy,
      dataSchemaOverride.getOrElse(TxDataSource.schemaOf(spark, root, snap)))

  def index: TxFileIndex = txIndex

  /** The pinned snapshot — the seam metadata-only rewrites consult
    * ([[graft.plans.TxMetadataAgg]] reads its `rows` and `dv` lines).
    * Via the index so an INSERT's repin is visible.
    */
  private[graft] def snapshot: TxTable.Snapshot = index.snap

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    TxRelations.insertInto(spark, root, data, overwrite, insertable, opts,
      surfaced = partitionBy.map(_.name))
    index.repin(TxTable.currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"txtable $root vanished mid-insert")))
  }
}

object TxBatchRelation {

  /** The same file-scan shape for internal snapshot reads
    * (`TxTable.readFilesWithDvs`): [[TxFileIndex]] + [[TxParquetFileFormat]]
    * (DVs applied in the reader) under a plain `HadoopFsRelation` — not
    * insertable, unbucketed, and never answered from manifest metadata,
    * so an API read always opens the files it names.
    */
  private[graft] def fileScan(spark: SparkSession, root: String,
      snap: TxTable.Snapshot, dataSchema: Option[StructType])
      : HadoopFsRelation = {
    val index = new TxFileIndex(root, snap)
    HadoopFsRelation(index, new StructType(),
      dataSchema.getOrElse(TxDataSource.schemaOf(spark, root, snap)),
      bucketSpec = None, new TxParquetFileFormat(root, index),
      Map.empty)(spark)
  }
}

/** Column-mapped relation: manifest-pruned, DV-filtered,
  * vintage-coalesced — the full `TxTable.read` semantics behind the
  * standard `spark.read.format("tx")` entry point. The scan plans as a
  * `RowDataSourceScanExec` whose rows come straight from the inner
  * plan's InternalRows (`needConversion = false`); the inner plan
  * itself is the [[TxBatchRelation]] file scan over the survivors (DVs
  * applied in its reader) plus the coalescing projection.
  */
final class TxMorRelation(spark: SparkSession, root: String,
    snap0: TxTable.Snapshot, insertable: Boolean,
    opts: Map[String, String]) extends BaseRelation
    with PrunedFilteredScan with InsertableRelation {

  /** The same pruning seam the HadoopFsRelation path exposes —
    * `index.lastPruned` is how specs pin, from a REAL planned scan,
    * which files the pushed filters kept.
    */
  val index = new TxFileIndex(root, snap0)

  /** The pinned snapshot — the seam [[graft.plans.TxMetadataAgg]]
    * consults for DV-restricted metadata answers (via the index so an
    * INSERT's repin is visible, mirroring [[TxBatchRelation.snapshot]]).
    */
  private[graft] def snapshot: TxTable.Snapshot = index.snap

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType =
    TxDataSource.schemaOf(spark, root, snap0)

  override def needConversion: Boolean = false

  override def sizeInBytes: Long = index.sizeInBytes

  // every predicate re-applies above the scan: pruning + inner pushdown
  // only remove provably-dead work, never own exactness
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val snap = index.snap
    val pruneExprs =
      filters.toIndexedSeq.flatMap(TxRelations.toPruneExpr(schema, _))
    val survivors = index.prunedFiles(pruneExprs)
    index.lastPruned = Some(survivors)
    val base =
      if (survivors.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](), schema)
      else TxTable.readFilesWithDvs(spark, root, snap, survivors)
    // align to the declared logical schema (exact types, declared order)
    val aligned = base.select(schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val filtered = filters.toIndexedSeq.flatMap(TxRelations.toColumn)
      .foldLeft(aligned)(_.filter(_))
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.toIndexedSeq.map(col): _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    TxRelations.insertInto(spark, root, data, overwrite, insertable, opts)
    index.repin(TxTable.currentSnapshot(root).getOrElse(
      throw new IllegalStateException(s"txtable $root vanished mid-insert")))
  }

  override def toString: String =
    s"TxMorRelation[$root v${index.snap.version}]"
}
