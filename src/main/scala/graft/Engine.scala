package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import graft.functions.{DurationExpressions, TextExpressions, VectorExpressions}

/** Session factory + SQL registration of the custom Catalyst expressions,
  * so the engine's extension operators are first-class in BOTH API
  * surfaces (DataFrame DSL via graft.functions.{text,vectors,durations},
  * SQL via `SELECT simhash64(text) ...`).
  *
  * Two registration paths:
  *   - [[GraftExtensions]] for `SparkSession.builder.withExtensions`
  *     (the library-consumer path, survives session cloning);
  *   - [[Engine.registerFunctions]] for an existing session (the path
  *     Verify/Bench/tests use).
  */
object Engine {

  private def intArg(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  /** name → (usage, builder). */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("simhash64", "simhash64(str) - 64-bit token SimHash",
      es => TextExpressions.SimHash(es.head)),
    ("simhash_md5", "simhash_md5(str) - SimHash with md5_number_lower token hashes",
      es => TextExpressions.SimHashMd5(es.head)),
    ("winnow_md5", "winnow_md5(str, k, w) - winnowing fingerprint set, md5 gram hashes",
      es => TextExpressions.WinnowMd5(es.head, intArg(es(1)), intArg(es(2)))),
    ("word_ngrams", "word_ngrams(str, n) - distinct space-joined word n-grams",
      es => TextExpressions.WordNgrams(es.head, intArg(es(1)))),
    ("char_shingles", "char_shingles(str, k) - distinct character k-grams",
      es => TextExpressions.CharShingles(es.head, intArg(es(1)))),
    ("char_shingles_md5", "char_shingles_md5(str, k) - distinct k-grams as md5_number_lower bigints",
      es => TextExpressions.CharShinglesMd5(es.head, intArg(es(1)))),
    ("minhash_signature", "minhash_signature(str, shingle, num) - MinHash signature",
      es => TextExpressions.MinHashSignature(es.head, intArg(es(1)), intArg(es(2)))),
    ("rolling_fingerprint", "rolling_fingerprint(str, k, w) - winnowing fingerprint",
      es => TextExpressions.RollingFingerprint(es.head, intArg(es(1)), intArg(es(2)))),
    ("shingle_hashes", "shingle_hashes(str, n) - distinct hashed word n-grams",
      es => TextExpressions.ShingleHashes(es.head, intArg(es(1)))),
    ("lang_scores", "lang_scores(str) - marker-word language scores",
      es => TextExpressions.LangScores(es.head)),
    ("dhash64", "dhash64(bin) - 65-block dHash perceptual fingerprint of a byte payload",
      es => TextExpressions.DHash64(es.head)),
    ("hamming64", "hamming64(a, b) - hamming distance of two bigints",
      es => TextExpressions.HammingDistance(es.head, es(1))),
    ("cosine_similarity", "cosine_similarity(a, b) - cosine of two float arrays",
      es => VectorExpressions.CosineSimilarity(es.head, es(1))),
    ("dot_product", "dot_product(a, b) - dot product of two float arrays",
      es => VectorExpressions.DotProduct(es.head, es(1))),
    ("duration_ms", "duration_ms(str) - parse [h:]m:ss[.SSS] to millis",
      es => DurationExpressions.DurationMillis(es.head)),
    ("chunk_tokens", "chunk_tokens(str, size, stride) - overlapping token windows",
      es => graft.functions.ChunkExpressions.ChunkTokens(es.head, intArg(es(1)), intArg(es(2)))),
    ("strip_accents", "strip_accents(str) - NFD + drop combining marks",
      es => TextExpressions.StripAccents(es.head)),
    ("nfc_normalize", "nfc_normalize(str) - Unicode NFC composition",
      es => TextExpressions.NfcNormalize(es.head)),
    // SQL paths widen inputs explicitly (integer literals arrive as INT;
    // ExpectsInputTypes is off the table — AbstractDataType is
    // private[sql] in Spark 4)
    ("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1]",
      es => graft.functions.MatchExpressions.JaroWinkler(
        Cast(es.head, StringType), Cast(es(1), StringType))),
    ("zorder16", "zorder16(x, y) - 2-D Morton interleave of low 16 bits",
      es => graft.functions.MatchExpressions.ZOrder16(
        Cast(es.head, LongType), Cast(es(1), LongType))),
    ("zorder_n", "zorder_n(x, y, ...) - N-D Morton interleave of low 63/n bits",
      es => {
        require(es.size >= 2 && es.size <= 8,
          s"zorder_n takes 2-8 dimensions, got ${es.size}")
        graft.functions.MatchExpressions.ZOrderMulti(
          es.map(e => Cast(e, LongType)))
      }),
    ("hilbert_n", "hilbert_n(x, y, ...) - N-D Hilbert index of low 63/n bits (Skilling transpose)",
      es => {
        require(es.size >= 2 && es.size <= 8,
          s"hilbert_n takes 2-8 dimensions, got ${es.size}")
        graft.functions.MatchExpressions.HilbertMulti(
          es.map(e => Cast(e, LongType)))
      }),
    ("md5_lower64", "md5_lower64(str) - DuckDB md5_number_lower as signed bigint",
      es => graft.functions.MatchExpressions.Md5Lower64(Cast(es.head, StringType))),
    // aggregate: the analyzer wraps a bare AggregateFunction builder
    // result in AggregateExpression, so the same registry path works
    ("topk_by", "topk_by(score, key, k) - top-k (score,key) per group, best-first",
      es => graft.functions.TopKAggregate.TopKBy(
        Cast(es.head, DoubleType), Cast(es(1), LongType), intArg(es(2)))),
    ("cms_sketch", "cms_sketch(term, weight, d, w) - count-min sketch counters, row-major",
      es => graft.functions.CmsAggregate.CmsSketch(
        Cast(es.head, StringType), Cast(es(1), LongType),
        intArg(es(2)), intArg(es(3)))))

  /** SQL table-valued functions — the transactional layer queryable
    * from pure SQL (`SELECT * FROM tx_read('/path')`), the way Delta
    * exposes `table_changes(...)`. Arguments must be literals (they
    * are evaluated at resolution time to build the plan); the returned
    * plan is the SAME analyzed plan the DataFrame API produces, so
    * DV application, mergeSchema, and snapshot pinning are identical
    * across both surfaces.
    */
  val tableFunctions: Seq[(String, String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    def str(e: Expression): String = {
      require(e.foldable, s"table-function argument must be a literal: $e")
      String.valueOf(e.eval(null))
    }
    def lng(e: Expression): Long = {
      require(e.foldable, s"table-function argument must be a literal: $e")
      e.eval(null).asInstanceOf[Number].longValue()
    }
    Seq(
      ("tx_read",
        "tx_read(root[, version]) - snapshot (or time-travel) read of a TxTable",
        es => {
          val s = SparkSession.active
          val df =
            if (es.size > 1)
              graft.operators.TxTable.readVersion(s, str(es.head), lng(es(1)))
            else graft.operators.TxTable.read(s, str(es.head))
          df.queryExecution.analyzed
        }),
      ("tx_history",
        "tx_history(root) - one row per retained version (DESCRIBE HISTORY)",
        es => graft.operators.TxTable
          .history(SparkSession.active, str(es.head))
          .queryExecution.analyzed),
      ("tx_changes",
        "tx_changes(root, fromV, toV) - rows added in versions (fromV, toV]",
        es => graft.operators.TxTable
          .readChanges(SparkSession.active, str(es.head), lng(es(1)),
            lng(es(2)))
          .queryExecution.analyzed),
      ("tx_read_at",
        "tx_read_at(root, epochMillis) - the table as it stood at wall-clock T (timestamp time travel)",
        es => graft.operators.TxTable
          .readAtTime(SparkSession.active, str(es.head), lng(es(1)))
          .queryExecution.analyzed),
      ("tx_detail",
        "tx_detail(root) - one-row DESCRIBE DETAIL (version, commit time, files, bytes, live rows, partition columns, checks) from manifest metadata alone",
        es => graft.operators.TxTable
          .detail(SparkSession.active, str(es.head))
          .queryExecution.analyzed),
      ("tx_partition_stats",
        "tx_partition_stats(root, col) - zero-scan per-partition live row counts",
        es => graft.operators.TxTable
          .partitionRowCounts(SparkSession.active, str(es.head), str(es(1)))
          .queryExecution.analyzed),
      // ---- procedure-style DML (r12 VERDICT task 5): the WRITE side of
      // the lakehouse in pure SQL, Iceberg's `CALL system.x(...)` shape
      // expressed as table functions. The operation executes ONCE, when
      // the analyzer resolves the function (the same moment tx_read
      // resolves its snapshot), through the IDENTICAL Scala entry point
      // — commit protocol, serializable retry, CHECK validation and all
      // — and the returned single-row RECEIPT carries the committed
      // version, so `SELECT * FROM tx_delete_where(...)` both performs
      // and reports the write.
      //
      // HAZARD (documented, accepted): because the write runs at
      // resolution, ANY analysis-only path over one of these functions
      // performs it too — `EXPLAIN SELECT * FROM tx_delete_where(...)`
      // executes the delete while printing the receipt's plan, and
      // `CREATE VIEW v AS SELECT * FROM tx_optimize(...)` compacts at
      // creation AND at every later re-resolution of the view. Spark's
      // injectTableFunction surface gives the builder no way to see
      // whether it is being resolved under EXPLAIN or a view definition
      // (the builder receives only the argument expressions), so this
      // cannot be detected and rejected here. These four are terminal
      // statements: run them as a bare SELECT, never under EXPLAIN, a
      // view, a CTE that may re-resolve, or a cached plan. The usage
      // strings repeat the warning where `DESCRIBE FUNCTION` shows it.
      ("tx_delete_where",
        "tx_delete_where(root, predSql) - merge-on-read DELETE WHERE; returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, "delete_where", graft.operators.TxTable.deleteWhere(
            s, str(es.head),
            org.apache.spark.sql.functions.expr(str(es(1)))))
        }),
      ("tx_optimize",
        "tx_optimize(root, targetFiles) - committed compaction; returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, "optimize", graft.operators.TxTable.optimize(
            s, str(es.head), lng(es(1)).toInt))
        }),
      ("tx_zorder",
        "tx_zorder(root, colsCsv, targetFiles[, curve]) - re-cluster the current snapshot in N-D Morton (default) or Hilbert order of the named columns (full rewrite: drops any bucket layout, materializes column mapping); returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          val root = str(es.head)
          val cols = str(es(1)).split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val curve = if (es.size > 3) str(es(3)) else "morton"
          receipt(s, s"zorder:${cols.mkString(",")}",
            graft.operators.TxTable.zorderTable(s, root, cols,
              lng(es(2)).toInt, curve))
        }),
      ("tx_vacuum",
        "tx_vacuum(root, keepVersions[, retainMs]) - two-axis retention; returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val root = str(es.head)
          graft.operators.TxTable.vacuum(root, lng(es(1)).toInt,
            if (es.size > 2) lng(es(2)) else 0L)
          receipt(SparkSession.active, "vacuum",
            graft.operators.TxTable.currentVersion(root).getOrElse(-1L))
        }),
      ("tx_rename_column",
        "tx_rename_column(root, oldName, newName) - metadata-only column rename (column mapping); returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, s"rename_column:${str(es(1))}->${str(es(2))}",
            graft.operators.TxTable.renameColumn(s, str(es.head),
              str(es(1)), str(es(2))))
        }),
      ("tx_widen_column",
        "tx_widen_column(root, name, newType) - metadata-only type widening (byte<short<int<long, float<double; no file rewrite); returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, s"widen_column:${str(es(1))}->${str(es(2))}",
            graft.operators.TxTable.widenColumn(s, str(es.head),
              str(es(1)), str(es(2))))
        }),
      ("tx_drop_column",
        "tx_drop_column(root, name) - metadata-only column drop (tombstoned name); returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, s"drop_column:${str(es(1))}",
            graft.operators.TxTable.dropColumn(s, str(es.head), str(es(1))))
        }),
      ("tx_restore",
        "tx_restore(root, version) - metadata-only RESTORE; returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, s"restore:${lng(es(1))}",
            graft.operators.TxTable.restore(s, str(es.head), lng(es(1))))
        }),
      ("tx_clone",
        "tx_clone(sourceRoot, targetRoot[, versionAsOf]) - zero-copy SHALLOW CLONE (one manifest write, no data bytes move); returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, s"clone:${str(es.head)}",
            graft.operators.TxTable.clone(s, str(es.head), str(es(1)),
              if (es.size > 2) Some(lng(es(2))) else None))
        }),
      ("tx_update",
        "tx_update(root, predSql, setCol, setExprSql) - merge-on-read UPDATE ... SET setCol = setExpr WHERE pred (DV the old rows + append the images in one commit); returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, s"update_where:${str(es(2))}",
            graft.operators.TxTable.updateWhere(s, str(es.head),
              org.apache.spark.sql.functions.expr(str(es(1))),
              Seq(str(es(2)) ->
                org.apache.spark.sql.functions.expr(str(es(3))))))
        }),
      ("tx_purge",
        "tx_purge(root) - materialize every deletion vector (copy-on-write rewrite of DV-carrying files only); returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          receipt(s, "purge",
            graft.operators.TxTable.purgeDeletes(s, str(es.head)))
        }),
      ("tx_merge",
        "tx_merge(root, sourceViewName, keyCols) - serializable MERGE (upsert by key) of a registered view/table's rows; keyCols is a comma list; returns (op, version). EXECUTES AT ANALYSIS TIME: do not use under EXPLAIN or in a view",
        es => {
          val s = SparkSession.active
          val keys = str(es(2)).split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq
          require(keys.nonEmpty, "tx_merge needs at least one key column")
          receipt(s, s"merge:${str(es(1))}",
            graft.operators.TxTable.mergeByKey(s, str(es.head),
              s.table(str(es(1))), keys))
        }))
  }

  /** One-row (op, version) result of a procedure table function. */
  private def receipt(s: SparkSession, op: String, version: Long)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    s.createDataFrame(
      java.util.Collections.singletonList(Row(op, version)),
      StructType(Seq(StructField("op", StringType, nullable = false),
        StructField("version", LongType, nullable = false))))
      .queryExecution.analyzed
  }

  /** Register the table functions on an existing session (the
    * [[registerFunctions]] twin for sessions built without
    * extensions).
    */
  def registerTableFunctions(spark: SparkSession): Unit =
    tableFunctions.foreach { case (name, _, builder) =>
      spark.sessionState.tableFunctionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }

  /** Register every custom function on an existing session. */
  def registerFunctions(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }

  /** Tuned local session with extensions (the library entry point). */
  def session(master: String = "local[*]", shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s
  }

  /** Session over a PERSISTENT catalog: Derby-backed Hive metastore under
    * `root/metastore_db`, warehouse under `root/warehouse`. This is the
    * fidelity twin of the reference's `CREATE DATABASE silver LOCATION
    * ...` against a workspace metastore (`Transform Silver Data.py:71-72`,
    * reproduced as scaladoc-cited behavior, not code): databases and
    * managed tables created here survive JVM restarts — a second process
    * pointed at the same `root` sees them from catalog metadata alone.
    * The in-memory-catalog [[session]] stays the default for tests and
    * the driver gate (same SQL surface, no on-disk metastore state).
    *
    * PRECONDITION — fresh JVM: `getOrCreate` reuses any live session and
    * silently ignores the Hive/Derby/warehouse configs, so a caller in a
    * JVM that already built a session would get the in-memory catalog
    * while believing it has persistence. Guarded with an explicit
    * `require` rather than documentation alone.
    */
  def persistentSession(root: String, master: String = "local[2]",
      shufflePartitions: Int = 8): SparkSession = {
    require(SparkSession.getDefaultSession.isEmpty &&
        SparkSession.getActiveSession.isEmpty,
      "persistentSession must be the first session in this JVM: " +
        "getOrCreate would reuse the live session and silently drop the " +
        "metastore/warehouse configs (stop() the existing session first)")
    SparkSession.builder()
      .master(master)
      .appName("graft-persistent")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$root/metastore_db;create=true")
      .enableHiveSupport()
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }
}

/** `SparkSession.builder.withExtensions(new GraftExtensions)` — injects
  * every graft function into the session's catalog at build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Engine.functions.foreach { case (name, _, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    // whole-operator extension: the as-of merge join planner strategy
    // (sessions built without extensions get it lazily via
    // AsOfMergeJoin.registerStrategy on first use)
    e.injectPlannerStrategy(_ => graft.plans.AsOfMergeJoin.AsOfJoinStrategy)
    // optimizer extension: length pre-filter for high-threshold
    // Jaro-Winkler predicates (provably result-preserving; see
    // plans/JaroWinklerPruning scaladoc for the 5t-4 bound)
    e.injectOptimizerRule(_ => graft.plans.JaroWinklerPruning)
    // materialized-view query routing (inert until a view registers;
    // idempotent — a routed plan no longer matches any base scan)
    e.injectOptimizerRule(_ => graft.plans.MatViewRouting)
    // metadata-only COUNT(*): unfiltered global counts over clean tx
    // snapshots answer from manifest row counts — zero jobs, zero scans
    e.injectOptimizerRule(_ => graft.plans.TxMetadataAgg)
    // INSERT INTO partitioned tx relations: claim the statement before
    // PreprocessTableInsertion hands it to the raw-parquet insert
    // command (which would write files no manifest references)
    e.injectResolutionRule(s => graft.sources.TxInsertRouting(s))
    // partitionedRead over a column mapping: expand the surrogate
    // relation into partition-surfaced-scan + vintage coalesce
    e.injectResolutionRule(s => graft.sources.TxMorDppRouting(s))
    // SQL table functions over the transactional layer (tx_read /
    // tx_history / tx_changes)
    Engine.tableFunctions.foreach { case (name, usage, builder) =>
      e.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.operators", name, usage), builder))
    }
  }
}
