package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{GraftStreamShim, Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.operators.TxTable

/** `format("tx")` — the TxTable lakehouse as a first-class Spark data
  * source, both surfaces:
  *
  *   - BATCH: `spark.read.format("tx").load(root)` (plus
  *     `option("versionAsOf", v)` time travel) resolves ONE snapshot
  *     and returns a parquet `HadoopFsRelation` over a [[TxFileIndex]]
  *     ([[TxBatchRelation]]), so the manifest's stat/partition/bloom
  *     metadata prunes files at Catalyst planning time from the query's
  *     own WHERE clause — no bespoke read API needed,
  *     `CREATE TABLE ... USING tx` works, `INSERT INTO` commits through
  *     the manifest protocol, and the scan itself is Spark's native
  *     parquet reader. Live deletion vectors keep this shape: they are
  *     applied inside the parquet reader ([[TxParquetFileFormat]]).
  *     Column-mapped snapshots take [[TxMorRelation]] instead: the same
  *     alias-aware manifest pruning, with the vintage coalesce composed
  *     IN-scan — `deleteWhere` and `tx_rename_column` no longer exile a
  *     table from this path.
  *   - STREAMING: `spark.readStream.format("tx").load(root)` tails the
  *     table as a structured-streaming source ([[TxStreamSource]]):
  *     offsets ARE committed versions, the first batch is the starting
  *     snapshot, every later batch is the (prev, head] append window —
  *     the packaged, checkpointed form of the cursor discipline
  *     `TxChangeFeed.consume` implements for batch consumers.
  *
  * Streaming initial snapshots go through `TxTable.readVersion` and
  * apply DVs exactly.
  */
final class TxDataSource extends RelationProvider
    with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "tx"

  /** `df.write.format("tx").mode(m).save(root)` — the batch writer,
    * routed through `TxTable.commit` so every write carries the full
    * commit protocol (atomic manifest publish, serializable retry,
    * schema enforcement, CHECK validation). Options:
    * `partitionBy=c1,c2` (hive layout as manifest part lines),
    * `clusterBy=c` (range layout), `statsCols=c1,c2`, `bloomCols=c1,c2`
    * (data-skipping metadata), and Delta's idempotent-writes pair
    * `txnAppId`/`txnVersion` (a replayed (app, version) no-ops).
    * SaveMode.Overwrite replaces the table, Append appends,
    * ErrorIfExists/Ignore respect an existing committed version.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val opts = TxDataSource.normalize(parameters)
    val root = TxDataSource.rootOf(opts)
    val exists = TxTable.currentVersion(root).isDefined
    def csv(k: String): Seq[String] =
      opts.get(k).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val txn = opts.get("txnappid").map(app =>
      (app, opts.getOrElse("txnversion", throw new IllegalArgumentException(
        "txnAppId needs txnVersion")).toLong))
    val spark = sqlContext.sparkSession
    def write(m: TxTable.Mode): Unit =
      TxTable.commit(spark, root, data, m, txn = txn,
        clusterBy = opts.get("clusterby"),
        statsCols = csv("statscols"),
        bloomCols = csv("bloomcols"),
        partitionCols = csv("partitionby"),
        bucketByMulti = TxDataSource.bucketOf(opts))
    mode match {
      case SaveMode.Overwrite => write(TxTable.Overwrite)
      case SaveMode.Append => write(TxTable.Append)
      case SaveMode.ErrorIfExists if exists =>
        throw new java.io.IOException(
          s"txtable $root already exists (SaveMode.ErrorIfExists)")
      case SaveMode.ErrorIfExists => write(TxTable.Overwrite)
      case SaveMode.Ignore if exists => ()
      case SaveMode.Ignore => write(TxTable.Overwrite)
    }
    createRelation(sqlContext, parameters)
  }

  /** `writeStream.format("tx")` — the exactly-once streaming sink:
    * each micro-batch is ONE TxTable commit carrying an
    * (appId, batchId) txn line, so a replayed batch (restart from the
    * checkpoint, at-least-once delivery) no-ops at the manifest before
    * any data writes. appId defaults to the query's checkpoint
    * location — the same identity the offset log lives under — and can
    * be pinned with `option("txnAppId", ...)`. `.partitionBy(...)`
    * flows through as manifest part lines, so a downstream
    * `format("tx")` reader prunes on what the stream wrote.
    *
    * `option("bucketBy", "c1[,c2]")` + `option("bucketCount", n)`
    * commits each micro-batch IN the table's hash-bucket layout — the
    * continuous-ingest-into-the-bucketed-fact shape: batches stay
    * join-co-located as they land (the commit-side layout check refuses
    * a mismatch against the table's declaration LOUDLY on the first
    * batch, not after a corrupted co-location), and a periodic
    * bucket-preserving `optimize` re-lands one sorted file per bucket.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"format(\"tx\") sink is append-only (got $outputMode): a TxTable " +
        "absorbs updates through mergeByKey/mergeAdditive consumers, " +
        "not sink-side row replacement")
    val opts = TxDataSource.normalize(parameters)
    val root = TxDataSource.rootOf(opts)
    val appId = opts.getOrElse("txnappid",
      "txsink:" + opts.getOrElse("checkpointlocation", root))
    def csv(k: String): Seq[String] =
      opts.get(k).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    new TxSink(root, appId, partitionColumns, csv("statscols"),
      csv("bloomcols"), TxDataSource.bucketOf(opts))
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val opts = TxDataSource.normalize(parameters)
    val root = TxDataSource.rootOf(opts)
    val spark = sqlContext.sparkSession
    // change-window read (Delta's readChangeFeed-without-change-columns):
    // startingVersion[/endingVersion] select the files ADDED in
    // (starting, ending] — the tx_changes TVF's window through the
    // reader, still under TxFileIndex so pushed filters prune the delta
    opts.get("startingversion") match {
      case Some(sv) =>
        val fromV = sv.toLong
        val toV = opts.get("endingversion").map(_.toLong)
          .orElse(TxTable.currentVersion(root)).getOrElse(
            throw new java.io.IOException(
              s"txtable $root has no committed version"))
        require(opts.get("versionasof").isEmpty,
          "startingVersion and versionAsOf are mutually exclusive")
        val end = TxTable.snapshotAt(root, toV)
        val base =
          if (fromV < 0) Set.empty[String]
          else TxTable.snapshotAt(root, fromV).files.toSet
        val added = end.files.filterNot(base.contains)
        val windowSnap =
          if (added.nonEmpty) end.copy(files = added)
          else end.copy(files = added,
            // schema source for an empty window: the end snapshot's
            // recorded schema (schemaOf falls back to footers otherwise,
            // and an empty window has none to probe)
            schema = end.schema.orElse(Some(
              TxDataSource.schemaOf(spark, root, end))))
        // window semantics under MoR: "rows added in (from, to], as they
        // stand AT the ending version" — a DV on a window file means some
        // of its rows were deleted inside the window, and the relation's
        // reader drops them (rows-added-and-still-live). A column mapping
        // at the end version likewise coalesces vintages.
        return relationFor(spark, root, windowSnap, insertable = false, opts)
      case None => ()
    }
    require(opts.get("versionasof").isEmpty ||
      opts.get("timestampasof").isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive")
    val snap = opts.get("versionasof") match {
      case Some(v) => TxTable.snapshotAt(root, v.toLong)
      case None => opts.get("timestampasof") match {
        case Some(t) =>
          TxTable.snapshotAt(root,
            TxTable.versionAtTime(root, TxDataSource.parseMillis(t)))
        case None => TxTable.currentSnapshot(root).getOrElse(
          throw new java.io.IOException(
            s"txtable $root has no committed version"))
      }
    }
    val timeTravel = opts.contains("versionasof") ||
      opts.contains("timestampasof")
    relationFor(spark, root, snap, insertable = !timeTravel, opts)
  }

  /** Pick the relation shape for a snapshot: the file-granular
    * `HadoopFsRelation` path ([[TxBatchRelation]]) unless a column
    * mapping stands between the files and the answer — live deletion
    * vectors do not, they are applied in its parquet reader. A
    * column-mapped snapshot takes the mapping-aware composed scan
    * ([[TxMorRelation]] — same pruning, same oracle-exact result,
    * vintage coalesce applied in-scan). Both are `InsertableRelation`s.
    */
  private def relationFor(spark: SparkSession, root: String,
      snap: TxTable.Snapshot, insertable: Boolean,
      opts: Map[String, String]): BaseRelation = {
    // the connector brings its metadata-only-COUNT rewrite with it, so
    // sessions built without GraftExtensions (bare spark-shell, Verify)
    // still answer unfiltered counts from the manifest (idempotent)
    graft.plans.TxMetadataAgg.enable(spark)
    val mapped = snap.renames.nonEmpty || snap.deadCols.nonEmpty
    val surfaced = opts.get("partitionedread").exists(_.toBoolean)
    def surfacedFields = {
      val fields = TxDataSource.surfacedPartitionFields(
        TxDataSource.schemaOf(spark, root, snap), snap)
      require(fields.nonEmpty, s"txtable $root: partitionedRead found no " +
        "surfaceable partition column — every snapshot file must carry a " +
        "recorded part value (commit with partitionBy) of a whitelisted " +
        "type (string / integral / boolean / date)")
      fields
    }
    if (mapped) {
      if (!surfaced) new TxMorRelation(spark, root, snap, insertable, opts)
      else {
        // a column mapping composes with the surfaced posture: one
        // partition-surfaced scan (DPP-eligible, DVs applied in its
        // reader) reading the physical vintage-name union, with the
        // vintage-coalescing projection above it (partition values come
        // from the alias-aware index, so a renamed partition column
        // keeps DPP) — expanded by TxMorDppRouting at analysis. A
        // session without the rewrite rule refuses: the raw scan would
        // null out renamed columns.
        require(spark.sessionState.analyzer.extendedResolutionRules
            .exists(_.isInstanceOf[TxMorDppRouting]),
          s"txtable $root: partitionedRead over a column mapping needs " +
            "the TxMorDppRouting rewrite (build the session with " +
            "GraftExtensions)")
        new TxMorPartitionedSurrogate(spark, root, snap, opts,
          surfacedFields)
      }
    } else if (surfaced) {
      new TxBatchRelation(spark, root, snap, insertable, opts,
        surfacedFields)
    } else new TxBatchRelation(spark, root, snap, insertable, opts)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val opts = TxDataSource.normalize(parameters)
    val root = TxDataSource.rootOf(opts)
    val snap = TxTable.currentSnapshot(root).getOrElse(
      throw new java.io.IOException(
        s"txtable $root has no committed version to stream from"))
    val base = schema.getOrElse(
      TxDataSource.schemaOf(sqlContext.sparkSession, root, snap))
    val declared =
      if (opts.get("readchangefeed").exists(_.toBoolean))
        StructType(base.fields.toIndexedSeq :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false) :+
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false))
      else base
    (shortName(), declared)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val opts = TxDataSource.normalize(parameters)
    val root = TxDataSource.rootOf(opts)
    val declared = sourceSchema(sqlContext, schema, providerName,
      parameters)._2
    if (opts.get("readchangefeed").exists(_.toBoolean))
      return new TxCdfStreamSource(sqlContext.sparkSession, root, declared,
        keyCol = opts.getOrElse("keycolumn",
          throw new IllegalArgumentException(
            "readChangeFeed streaming needs option(\"keyColumn\", ...) — " +
              "rewrite commits classify rows by key")),
        startingVersion = TxDataSource.startCursor(root, opts),
        maxVersionsPerTrigger = opts.get("maxversionspertrigger")
          .map(_.toLong),
        metadataPath = Some(metadataPath))
    new TxStreamSource(sqlContext.sparkSession, root, declared,
      ignoreChanges = opts.get("ignorechanges").exists(_.toBoolean),
      maxVersionsPerTrigger = opts.get("maxversionspertrigger").map { v =>
        val m = v.toLong
        require(m >= 1, s"maxVersionsPerTrigger must be >= 1 (got $m)")
        m
      },
      // initial-snapshot pacing (Delta's maxFilesPerTrigger): split the
      // first snapshot into file-bounded micro-batches instead of one
      // batch spanning the whole table
      maxFilesPerTrigger = opts.get("maxfilespertrigger").map { v =>
        val m = v.toLong
        require(m >= 1, s"maxFilesPerTrigger must be >= 1 (got $m)")
        m
      },
      // tail-only start: skip the initial snapshot and begin the
      // incremental walk ABOVE this cursor (Delta's startingVersion /
      // startingTimestamp)
      startingVersion = TxDataSource.startCursor(root, opts),
      metadataPath = Some(metadataPath))
  }
}

/** Offset of a PACED initial snapshot: the first `fileIndex` manifest
  * files of version `version` have been delivered. Not a case class —
  * the v1 engine compares offsets (including restart-deserialized
  * [[org.apache.spark.sql.execution.streaming.runtime.SerializedOffset]])
  * through the base class's json equality, which a generated equals
  * would break.
  */
final class TxInitOffset(val version: Long, val fileIndex: Long)
    extends Offset {
  override def json: String = s"""{"v":$version,"i":$fileIndex}"""
  override def toString: String = json
}

object TxDataSource {

  private[sources] def normalize(parameters: Map[String, String])
      : Map[String, String] =
    parameters.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }

  /** timestampAsOf accepts epoch millis or an ISO-8601 instant. */
  private[sources] def parseMillis(t: String): Long =
    t.toLongOption.getOrElse(java.time.Instant.parse(t).toEpochMilli)

  /** Streaming start cursor from options: `startingVersion` wins;
    * `startingTimestamp` resolves to the newest version committed at or
    * before T (tail = everything AFTER it), and a T before the first
    * retained commit means "from the beginning" (-1) — the one case
    * where versionAtTime's loud horizon refusal is the wrong answer,
    * because a tail-from-the-dawn-of-time is well-defined.
    */
  private[graft] def startCursor(root: String,
      opts: Map[String, String]): Option[Long] = {
    require(opts.get("startingversion").isEmpty ||
      opts.get("startingtimestamp").isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    opts.get("startingversion").map(_.toLong).orElse(
      opts.get("startingtimestamp").map { t =>
        val ms = parseMillis(t)
        val vs = TxTable.versions(root)
        if (vs.isEmpty || TxTable.commitTimeMillis(root, vs.head) > ms) -1L
        else TxTable.versionAtTime(root, ms)
      })
  }

  /** Writer options `bucketBy=<c1[,c2,...]>` + `bucketCount=<n>` — the
    * hash-bucket layout through the DataFrame writer/INSERT surface
    * (multi-column: comma-separated, Spark's own BucketSpec shape).
    */
  private[sources] def bucketOf(opts: Map[String, String])
      : Option[(Seq[String], Int)] =
    opts.get("bucketby").map { c =>
      val cols = c.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.nonEmpty, "bucketBy needs at least one column")
      (cols, opts.getOrElse("bucketcount", throw new IllegalArgumentException(
        "bucketBy needs bucketCount (the number of buckets)")).toInt)
    }

  private[sources] def rootOf(opts: Map[String, String]): String =
    opts.getOrElse("path", throw new IllegalArgumentException(
      "format(\"tx\") needs a path: load(root) or option(\"path\", root)"))

  /** The delivered-version high-water, persisted under the source's own
    * checkpoint metadata dir so maxVersionsPerTrigger keeps pacing
    * ACROSS restarts: the v1 Source API never hands a restored offset
    * to `getOffset`, so without this a restart with no pending batch
    * plans one uncapped catch-up batch spanning the entire backlog
    * (Delta seeds the same limit from its checkpoint). ADVISORY
    * semantics: correctness never depends on it — batch windows come
    * from the offset log — so a missing/torn file only degrades to the
    * uncapped first batch, and IO errors are swallowed, never fatal.
    *
    * Resolved through the checkpoint path's OWN Hadoop [[org.apache
    * .hadoop.fs.FileSystem]] (r16 VERDICT task 6): the metadata dir is
    * wherever the query's checkpoint lives — `file:`-scheme, HDFS, an
    * object store — and the previous `java.nio` local-path resolution
    * silently degraded restart pacing to the uncapped first batch on
    * any non-local checkpoint, exactly where a 100 TB backlog hurts.
    */
  private[sources] object DeliveredCursor {
    import org.apache.hadoop.fs.Path

    private def hadoopConf: org.apache.hadoop.conf.Configuration =
      SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())

    def load(dir: String): Option[Long] =
      try {
        val p = new Path(dir, "graft-delivered")
        val fs = p.getFileSystem(hadoopConf)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
          finally in.close()
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    def store(dir: String, v: Long): Unit =
      try {
        val p = new Path(dir, "graft-delivered")
        val fs = p.getFileSystem(hadoopConf)
        val tmp = new Path(dir,
          s".graft-delivered-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(v.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // advisory file: delete-then-rename is not atomic, but a reader
        // racing the window only sees a missing cursor and degrades to
        // the uncapped first batch — the documented failure mode
        fs.delete(p, false)
        fs.rename(tmp, p)
      } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Initial-snapshot pacing cursor (maxFilesPerTrigger), two files
    * under the source's checkpoint metadata dir:
    *
    *   - `graft-init-pin` ("v n"): which version is the paced initial
    *     snapshot and how many files it holds. Written ONCE with
    *     create-exclusive semantics BEFORE the first paced offset ever
    *     escapes, never rewritten — a pin that could be lost would let
    *     a restart re-pin the initial snapshot at a newer head and
    *     re-deliver rows, so a failed pin write degrades to the
    *     UNPACED single-batch initial (correct, just unpaced), never
    *     to a paced one.
    *   - `graft-init-idx` (a long): files delivered so far — ADVISORY
    *     like [[DeliveredCursor]] (batch contents always derive from
    *     the engine's own start offset in getBatch); a lost idx only
    *     degrades the REMAINDER to one unpaced batch.
    */
  private[graft] object InitCursor {
    import org.apache.hadoop.fs.Path

    private def hadoopConf: org.apache.hadoop.conf.Configuration =
      SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration())

    def loadPin(dir: String): Option[(Long, Long)] =
      try {
        val p = new Path(dir, "graft-init-pin")
        val fs = p.getFileSystem(hadoopConf)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          val s = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          s.split(' ') match {
            case Array(v, n) =>
              for (vv <- v.toLongOption; nn <- n.toLongOption)
                yield (vv, nn)
            case _ => None
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Pin (v, n), or adopt an existing pin: returns the pin in force,
      * None only when no pin exists AND this write failed (→ caller
      * must stay unpaced).
      */
    def ensurePin(dir: String, v: Long, n: Long): Option[(Long, Long)] =
      loadPin(dir).orElse {
        try {
          val p = new Path(dir, "graft-init-pin")
          val fs = p.getFileSystem(hadoopConf)
          // overwrite=false: create-exclusive — a racing writer loses
          // and adopts the winner's pin on the re-load below
          val out = fs.create(p, false)
          try out.write(s"$v $n".getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          Some((v, n))
        } catch {
          case scala.util.control.NonFatal(_) => loadPin(dir)
        }
      }

    def loadIdx(dir: String): Option[Long] =
      try {
        val p = new Path(dir, "graft-init-idx")
        val fs = p.getFileSystem(hadoopConf)
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption
          finally in.close()
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    def storeIdx(dir: String, i: Long): Unit =
      try {
        val p = new Path(dir, "graft-init-idx")
        val fs = p.getFileSystem(hadoopConf)
        val tmp = new Path(dir, s".graft-init-idx-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try out.write(i.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        fs.delete(p, false)
        fs.rename(tmp, p)
      } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Table schema: the manifest-recorded one when present (every
    * commit since r12 records it), else the union of the snapshot
    * files' footers — driver-side metadata either way, no Spark job.
    */
  private[sources] def schemaOf(spark: SparkSession, root: String,
      snap: TxTable.Snapshot): StructType =
    snap.schema.getOrElse {
      spark.read.option("mergeSchema", "true")
        .parquet(snap.files.map(f => TxTable.absFile(root, f)): _*).schema
    }

  /** The columns `option("partitionedRead", "true")` may surface as a
    * real partitionSchema: recorded in EVERY snapshot file's part lines
    * (a partial layout would force inventing values for the uncovered
    * files) and of a type whose Spark partition-path rendering
    * round-trips exactly through `Cast(string, type)` — the same
    * class hive partition inference trusts. Doubles/timestamps are
    * excluded on purpose: their renderings are not canonical, and a
    * lossy round-trip would attach WRONG values to rows. Order is the
    * commit's part-line order (first file is canonical — one commit
    * protocol writes them all).
    */
  private[sources] def surfacedPartitionFields(schema: StructType,
      snap: TxTable.Snapshot): Seq[org.apache.spark.sql.types.StructField] = {
    import org.apache.spark.sql.types._
    if (snap.files.isEmpty) return Nil
    def safe(t: DataType): Boolean = t match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           BooleanType | DateType => true
      case _ => false
    }
    // ALIAS-AWARE (r18): part lines carry write-time names, so each is
    // resolved to its LOGICAL name through the rename class, coverage
    // checks every vintage per file, and a DROPPED partition column
    // (absent from the logical schema) simply stops surfacing. One
    // RENAME COLUMN no longer knocks a fact table off the DPP posture.
    snap.parts.getOrElse(snap.files.head, Seq.empty).map(_._1)
      .map(c => TxTable.nameClass(snap, c).head)
      .filter(c => snap.files.forall { f =>
        val names = TxTable.namesOf(snap, c)
        snap.parts.getOrElse(f, Seq.empty).exists(l => names.contains(l._1))
      })
      .flatMap(c => schema.fields.find(_.name == c))
      .filter(f => safe(f.dataType))
  }
}

/** The v1 streaming sink over TxTable: one committed version per
  * micro-batch, idempotent under replay via the (appId, batchId) txn
  * high-water — `TxTable.commit` returns without writing when the
  * batch is already at or below it, which is the whole exactly-once
  * contract (the same mechanism `streamAppend`/TxState ride). The
  * micro-batch frame is re-rooted off its IncrementalExecution before
  * the write (see [[GraftStreamShim.asBatchFrame]]).
  */
final class TxSink(root: String, appId: String, partitionCols: Seq[String],
    statsCols: Seq[String], bloomCols: Seq[String],
    bucketBy: Option[(Seq[String], Int)] = None) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = GraftStreamShim.asBatchFrame(data)
    TxTable.commit(batch.sparkSession, root, batch, TxTable.Append,
      txn = Some((appId, batchId)),
      statsCols = statsCols, bloomCols = bloomCols,
      partitionCols = partitionCols, bucketByMulti = bucketBy)
  }

  override def toString: String = s"TxSink[$root]"
}

/** The CHANGE-FEED streaming source (`option("readChangeFeed", "true")`
  * + `option("keyColumn", ...)`): where [[TxStreamSource]] refuses
  * data-changing commits, this source EMITS them — each micro-batch is
  * `TxChangeFeed.readChangeFeed` over the offset window, so MoR deletes
  * arrive as `delete` rows, rewrites as net pre/post-image pairs, and
  * appends as `insert`s, with `_change_type`/`_commit_version` columns
  * appended to the table schema. A signed fold over this stream IS
  * incremental view maintenance through the real streaming engine (the
  * q182/q196 consumer loop as a `readStream`). Offsets are versions;
  * with no prior offset the feed replays from `startingVersion`
  * (default -1 = the beginning — v0's files arrive as inserts, which
  * for an overwrite-created table is its snapshot). Replays are
  * deterministic from manifests; a window below the vacuum horizon
  * fails loudly.
  */
final class TxCdfStreamSource(spark: SparkSession, root: String,
    declaredSchema: StructType, keyCol: String,
    startingVersion: Option[Long], maxVersionsPerTrigger: Option[Long],
    metadataPath: Option[String] = None)
    extends Source {

  // rate-limit base, seeded from the source's checkpoint metadata on
  // restart so the first post-restart batch is paced like any other
  @volatile private var delivered: Long =
    metadataPath.flatMap(TxDataSource.DeliveredCursor.load).getOrElse(-1L)

  override def schema: StructType = declaredSchema

  override def getOffset: Option[Offset] =
    TxTable.currentVersion(root).map { head =>
      val capped = maxVersionsPerTrigger match {
        case Some(m) if delivered >= 0 => math.min(head, delivered + m)
        case _ => head
      }
      LongOffset(capped)
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val toV = versionOf(end)
    val fromV = start.map(versionOf).orElse(startingVersion).getOrElse(-1L)
    val retained = TxTable.versions(root)
    if (fromV >= 0 && !retained.contains(fromV))
      throw new java.io.IOException(
        s"tx cdf stream on $root: resume cursor v$fromV is below the " +
          s"vacuum horizon (oldest retained is " +
          s"v${retained.headOption.getOrElse(-1L)})")
    val batch =
      if (fromV >= toV) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        declaredSchema)
      else graft.operators.TxChangeFeed.readChangeFeed(spark, root,
        fromV, toV, keyCol)
    delivered = math.max(delivered, toV)
    metadataPath.foreach(TxDataSource.DeliveredCursor.store(_, delivered))
    // VINTAGE-AWARE align: a rename/drop inside the window is metadata-
    // only (no change rows of its own), but rows from versions on either
    // side of it carry different column vintages — each declared name
    // coalesces over its rename class at the window END, so the stream's
    // schema contract stays stable across the rename (values land under
    // the declared name exactly; a file carries one vintage, so the
    // coalesce is never a guess). readChangeFeed resolves keyCol through
    // the same class.
    val endSnap = TxTable.snapshotAt(root, toV)
    val aligned = batch.select(declaredSchema.fields.toIndexedSeq.map { f =>
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val present =
        TxTable.nameClass(endSnap, f.name).filter(batch.columns.contains)
      val c = present match {
        case Seq() => lit(null).cast(f.dataType)
        case Seq(one) => col(one).cast(f.dataType)
        case many => coalesce(many.map(col): _*).cast(f.dataType)
      }
      c.as(f.name)
    }: _*)
    GraftStreamShim.asStreamingFrame(aligned)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def toString: String = s"TxCdfStreamSource[$root]"
}

/** Structured-streaming tail of a TxTable: offsets are COMMITTED
  * VERSIONS (a LongOffset of the manifest number — durable, dense,
  * totally ordered, exactly what a resumable cursor needs), so the
  * checkpoint's offset log gives end-to-end exactly-once with zero
  * source-side state:
  *
  *   - first batch (no prior offset): the full snapshot AT the batch's
  *     end version, deletion vectors applied — Delta's
  *     initial-snapshot-then-tail shape. With
  *     `option("maxFilesPerTrigger", n)` the initial snapshot instead
  *     splits into file-bounded micro-batches over [[TxInitOffset]]
  *     cursors (Delta's option): the snapshot version is PINNED
  *     durably before the first paced offset escapes
  *     ([[TxDataSource.InitCursor]]), each batch reads manifest-order
  *     files [i, j) of that version with its DVs, and batch contents
  *     always derive from the engine's own offset pair — replays and
  *     restarts slice bit-identically, advisory-cursor loss only
  *     degrades pacing (one bigger batch), never correctness. Without
  *     it a backfill of a 10⁶-file table would plan ONE batch spanning
  *     the whole table — the unbounded term at 100 TB. Versions
  *     committed DURING the backfill queue behind the pin and arrive
  *     through the normal tail walk; vacuuming the pinned version's
  *     files mid-backfill fails loudly (size retention to cover the
  *     slowest backfill, the TxState replay rule). Trigger.AvailableNow
  *     note: Spark's v1 wrapper latches ONE offset per run, so a paced
  *     backfill spans several AvailableNow runs — each resumes at the
  *     recorded cursor and converges exactly-once (spec-pinned); use a
  *     processing-time trigger for a one-shot backfill;
  *   - every later batch: the (prevVersion, endVersion] window, walked
  *     version by version so each commit's `op` line classifies it —
  *     `append` emits that version's added files, dataChange=false
  *     maintenance (`optimize`/`compact`/`zorder`/`purge`/`add_check`)
  *     emits nothing (their "added" files are rewrites of rows already
  *     delivered), metadata-only schema commits (`rename_column`/
  *     `drop_column`) emit nothing and do NOT break the stream (see
  *     below), and anything that changes or removes delivered rows
  *     (`overwrite`, `merge`, `delete_mor`, `restore`, dpo, ...) fails
  *     LOUDLY unless `option("ignoreChanges", "true")` accepted
  *     re-delivery of rewritten rows (Delta's option, same semantics,
  *     keyed dedup downstream is the caller's contract).
  *
  * Replays are deterministic: a batch is re-read from its manifest
  * window, so a crashed run resumes bit-identically — unless the
  * window was vacuumed, which fails loudly naming the horizon (the
  * TxState replay rule).
  *
  * SCHEMA CONTRACT: the declared schema is pinned at stream start and
  * every batch projects/casts to it. Older files' missing columns read
  * as typed nulls. A mid-stream RENAME keeps the stream flowing with
  * correct values under the declared name — [[align]] coalesces each
  * declared column over its rename class at the batch-end snapshot
  * (Delta-with-column-mapping's stability, on names instead of ids); a
  * DROP makes post-drop rows read null in the declared column. Columns
  * ADDED to the table after start are intentionally NOT emitted (the
  * sink's schema cannot change mid-query); to adopt them, restart the
  * stream — same checkpoint resumes at the recorded offset with the
  * re-resolved schema, or a fresh checkpoint with
  * `option("startingVersion", lastDeliveredVersion)` tails from the
  * same cursor (both specs in TxDataSourceSpec).
  */
final class TxStreamSource(spark: SparkSession, root: String,
    declaredSchema: StructType, ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Long] = None,
    startingVersion: Option[Long] = None,
    metadataPath: Option[String] = None,
    maxFilesPerTrigger: Option[Long] = None) extends Source {

  // ops whose file additions are rewrites of already-delivered rows
  private val DataChangeFalse =
    Set("optimize", "compact", "zorder", "purge", "add_check")

  // metadata-only schema commits: no files move, no rows change — the
  // stream keeps flowing, and [[align]]'s vintage coalesce keeps the
  // DECLARED schema stable across them (a rename mid-stream keeps
  // emitting correct values under the name the sink was promised;
  // Delta-with-column-mapping's behavior, where id-addressed columns
  // make renames invisible to running streams)
  private val MetadataOnly =
    Set("rename_column", "drop_column", "widen_column")

  // highest version already handed to a batch — the rate-limit base.
  // Within a run, getBatch advances it; across a RESTART it re-seeds
  // from the cursor persisted under the source's checkpoint metadata
  // dir ([[TxDataSource.DeliveredCursor]]) — a pending batch's replay
  // would also re-seed it, but a restart with NOTHING pending goes
  // straight to getOffset, and without the persisted base the first
  // catch-up batch would span the entire backlog uncapped.
  @volatile private var delivered: Long =
    metadataPath.flatMap(TxDataSource.DeliveredCursor.load).getOrElse(-1L)

  // paced-initial state (maxFilesPerTrigger): `pinned` = (version,
  // fileCount) of the initial snapshot being split, durable and
  // immutable ([[TxDataSource.InitCursor]] — a re-pinnable initial
  // would re-deliver rows after a restart); `initIdx` = files delivered
  // so far, advisory (batch contents always derive from the engine's
  // start offset). An unknown idx under a live pin degrades the
  // remainder to one unpaced batch via a plain version offset.
  @volatile private var pinned: Option[(Long, Long)] =
    metadataPath.flatMap(TxDataSource.InitCursor.loadPin)
  @volatile private var initIdx: Option[Long] =
    if (pinned.isDefined) metadataPath.flatMap(TxDataSource.InitCursor.loadIdx)
    else None

  override def schema: StructType = declaredSchema

  /** Head version — or, while a PACED INITIAL snapshot is mid-flight,
    * the next file-bounded slice of the pinned version. Tail batches
    * stay capped at `delivered + maxVersionsPerTrigger`; without
    * maxFilesPerTrigger the initial snapshot is ONE batch however many
    * files it holds (the pre-r19 shape).
    */
  override def getOffset: Option[Offset] =
    TxTable.currentVersion(root).map { head =>
      // pin the initial snapshot on the first trigger of a fresh paced
      // stream: nothing delivered, nothing pinned, not tail-only
      if (pinned.isEmpty && maxFilesPerTrigger.isDefined &&
          delivered < 0 && startingVersion.isEmpty) {
        val n0 = TxTable.snapshotAt(root, head).files.size.toLong
        if (n0 > maxFilesPerTrigger.get) {
          pinned = metadataPath.flatMap(
            TxDataSource.InitCursor.ensurePin(_, head, n0))
          if (pinned.isDefined) {
            initIdx = Some(0L)
            metadataPath.foreach(TxDataSource.InitCursor.storeIdx(_, 0L))
          } // else: pin write failed — stay unpaced (correct, one batch)
        }
      }
      pinned match {
        case Some((v0, n0)) if delivered < v0 && initIdx.exists(_ < n0) =>
          val step = maxFilesPerTrigger.getOrElse(n0)
          val j = initIdx.get + step
          // the last slice ends on the PLAIN version offset (its batch
          // is "rest of the pinned snapshot"): composite offsets never
          // reach n0, so completion needs no trailing empty batch
          if (j >= n0) LongOffset(v0) else new TxInitOffset(v0, j)
        case Some((v0, _)) if delivered < v0 && initIdx.isEmpty =>
          LongOffset(v0) // idx lost: finish the initial in one batch
        case _ =>
          val capped = maxVersionsPerTrigger match {
            case Some(m) if delivered >= 0 => math.min(head, delivered + m)
            case _ => head
          }
          LongOffset(capped)
      }
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val (toV, toIdx) = cursorOf(end)
    val endSnap = TxTable.snapshotAt(root, toV)
    val batch: Seq[DataFrame] = (start.map(cursorOf), toIdx) match {
      // ---- paced-initial windows: contents ALWAYS derive from the
      // engine's own (start, end) pair, so replays and restarts slice
      // bit-identically whatever the advisory cursors say ----
      case (None, Some(j)) =>
        Seq(initSlice(toV, 0L, j))
      case (Some((v0, Some(i))), Some(j)) =>
        // the pin is immutable, so two composite offsets can only name
        // the one pinned version — anything else is a corrupt log
        if (v0 != toV) throw new IllegalStateException(
          s"tx stream on $root: paced-initial offsets disagree " +
            s"(start v$v0, end v$toV)")
        Seq(initSlice(v0, i, j))
      case (Some((v0, Some(i))), None) =>
        // end moved past the pinned version (idx-lost completion, or a
        // plain tail offset): the rest of the pinned snapshot plus the
        // (v0, toV] window
        Seq(initSlice(v0, i, Long.MaxValue)) ++
          (if (toV > v0) Seq(incremental(v0, toV)) else Nil)
      case (Some((vS, None)), Some(_)) =>
        // plain start + composite end: every row of the pinned version
        // is already covered by the committed plain offset (stale
        // advisory idx after an unpaced completion) — emit nothing and
        // let the idx advance to its fixpoint
        if (vS >= toV) Seq(emptyBatch())
        else Seq(incremental(vS, toV))
      // ---- the pre-r19 shapes, unchanged ----
      case (None, None) => startingVersion match {
        case Some(sv) =>
          if (sv >= toV) Seq(emptyBatch()) else Seq(incremental(sv, toV))
        case None => Seq(TxTable.readVersion(spark, root, toV))
      }
      case (Some((fromV, None)), None) =>
        if (fromV >= toV) Seq(emptyBatch())
        else Seq(incremental(fromV, toV))
    }
    toIdx match {
      case Some(j) =>
        initIdx = Some(math.max(initIdx.getOrElse(0L), j))
        metadataPath.foreach(
          TxDataSource.InitCursor.storeIdx(_, initIdx.get))
        if (pinned.exists(_._2 <= j)) {
          delivered = math.max(delivered, toV)
          metadataPath.foreach(
            TxDataSource.DeliveredCursor.store(_, delivered))
        }
      case None =>
        delivered = math.max(delivered, toV)
        metadataPath.foreach(
          TxDataSource.DeliveredCursor.store(_, delivered))
        // a plain offset at/above the pin completes the initial
        pinned.filter(_._1 <= toV).foreach { case (_, n0) =>
          initIdx = Some(n0)
          metadataPath.foreach(TxDataSource.InitCursor.storeIdx(_, n0))
        }
    }
    GraftStreamShim.asStreamingFrame(
      batch.map(align(_, endSnap)).reduce(_ union _))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Files [i, j) of version `v`'s snapshot (manifest order — stable
    * across re-parses, the paced initial's replay determinism), that
    * version's deletion vectors applied.
    */
  private def initSlice(v: Long, i: Long, j: Long): DataFrame = {
    val snap = TxTable.snapshotAt(root, v)
    val hi = math.min(j, snap.files.size.toLong).toInt
    val files = if (i >= hi) Nil else snap.files.slice(i.toInt, hi)
    if (files.isEmpty) emptyBatch()
    else TxTable.readFilesWithDvs(spark, root, snap, files)
  }

  private def versionOf(o: Offset): Long = cursorOf(o)._1

  /** (version, paced-initial file index): LongOffset and plain-long
    * json are tail cursors; `{"v":N,"i":K}` ([[TxInitOffset]], or its
    * SerializedOffset restart form) is a paced-initial cursor.
    */
  private def cursorOf(o: Offset): (Long, Option[Long]) = o match {
    case l: LongOffset => (l.offset, None)
    case t: TxInitOffset => (t.version, Some(t.fileIndex))
    case other =>
      val s = other.json.trim
      if (s.startsWith("{")) {
        val m = """\{"v":(-?\d+),"i":(-?\d+)\}""".r
        s match {
          case m(v, i) => (v.toLong, Some(i.toLong))
          case _ => throw new IllegalStateException(
            s"tx stream on $root: unparseable offset '$s'")
        }
      } else (s.toLong, None)
  }

  private def emptyBatch(): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      declaredSchema)
  }

  /** The (fromV, toV] append window as one DataFrame, each version
    * classified by its op line (see class doc).
    */
  private def incremental(fromV: Long, toV: Long): DataFrame = {
    val retained = TxTable.versions(root)
    if (!retained.contains(fromV)) throw new java.io.IOException(
      s"tx stream on $root: resume cursor v$fromV is below the vacuum " +
        s"horizon (oldest retained is v${retained.headOption.getOrElse(-1L)}) " +
        "— the replay window is gone; size vacuum retention to exceed " +
        "the slowest consumer")
    var prev = TxTable.snapshotAt(root, fromV).files.toSet
    val emit = Seq.newBuilder[String]
    retained.filter(v => v > fromV && v <= toV).foreach { v =>
      val snap = TxTable.snapshotAt(root, v)
      val added = snap.files.filterNot(prev.contains)
      val op = snap.op.getOrElse("append")
      val baseOp = op.takeWhile(_ != ':') // restore:N → restore
      if (op == "append") emit ++= added
      else if (DataChangeFalse.contains(baseOp)) () // rewrites: skip
      else if (MetadataOnly.contains(baseOp)) () // schema-only: skip
      else if (ignoreChanges) emit ++= added
      else throw new java.io.IOException(
        s"tx stream on $root: version $v is a '$op' commit — it changes " +
          "or removes rows already delivered downstream, which an " +
          "append-only stream cannot represent. Set " +
          "option(\"ignoreChanges\", \"true\") to accept re-delivery of " +
          "rewritten rows (downstream must dedupe by key), or keep this " +
          "table append-only")
      prev = snap.files.toSet
    }
    val files = emit.result()
    if (files.isEmpty) emptyBatch()
    else {
      // pin the window read to the end snapshot's vintage-expanded
      // schema (type-widened old files upcast; no O(files) footer
      // union), augmented with declared columns a mid-window DROP
      // removed from it — their bytes still live in the window's older
      // files and the declared schema promised them
      val endSnap = TxTable.snapshotAt(root, toV)
      val paths = files.map(f => TxTable.absFile(root, f))
      TxTable.pinnedReadSchema(endSnap) match {
        case Some(ps) =>
          val extra = declaredSchema.fields.filterNot(f =>
            TxTable.nameClass(endSnap, f.name)
              .exists(n => ps.fieldNames.contains(n)))
            .map(f => org.apache.spark.sql.types.StructField(
              f.name, f.dataType, nullable = true))
          spark.read.schema(org.apache.spark.sql.types.StructType(
            ps.fields ++ extra)).parquet(paths: _*)
        case None =>
          spark.read.option("mergeSchema", "true").parquet(paths: _*)
      }
    }
  }

  /** Project/cast to the stream's declared schema: missing columns
    * (files older than an additive evolution) become typed nulls;
    * columns added to the table AFTER stream start are not emitted
    * (the stream's schema is a contract with its sink — restart the
    * stream to pick up new columns, see the class doc's recipe).
    * VINTAGE-AWARE: each declared name resolves through its rename
    * class at the batch-end snapshot, so a mid-stream rename (or a
    * stream restarted after one, whose declared name is now the NEW
    * name over a window holding OLD-name files) coalesces exactly —
    * a file carries exactly one vintage of a column, so the coalesce
    * picks the one real value, never a guess.
    */
  private def align(df: DataFrame, endSnap: TxTable.Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // a column WIDENED after stream start (int -> long etc.) holds
    // values the declared schema cannot represent — casting down would
    // silently truncate, so fail like a data-changing op: restart the
    // stream (the re-resolved schema adopts the widened type; the same
    // checkpoint resumes at the recorded offset)
    declaredSchema.fields.foreach { f =>
      endSnap.schema.flatMap(_.fields.find(lf =>
        TxTable.nameClass(endSnap, f.name).contains(lf.name))).foreach { lf =>
        if (lf.dataType != f.dataType &&
            TxTable.widerOf(lf.dataType, f.dataType).contains(lf.dataType))
          throw new java.io.IOException(
            s"tx stream on $root: column '${f.name}' widened " +
              s"(${f.dataType.simpleString} -> " +
              s"${lf.dataType.simpleString}) mid-stream — restart the " +
              "stream to adopt the widened schema (the checkpoint " +
              "resumes at the recorded offset)")
      }
    }
    df.select(declaredSchema.fields.toIndexedSeq.map { f =>
      val present =
        TxTable.nameClass(endSnap, f.name).filter(df.columns.contains)
      val c = present match {
        case Seq() => lit(null).cast(f.dataType)
        case Seq(one) => col(one).cast(f.dataType)
        case many => coalesce(many.map(col): _*).cast(f.dataType)
      }
      c.as(f.name)
    }: _*)
  }

  override def toString: String = s"TxStreamSource[$root]"
}
