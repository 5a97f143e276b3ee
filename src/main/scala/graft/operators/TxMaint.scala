package graft.operators

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Transactional-table MAINTENANCE surface (round 11) — the operations a
  * lake table needs between commits, each published through [[TxTable]]'s
  * manifest protocol so maintenance is just another serialized version:
  *
  *  - q163 [[TxTable.mergeByKeyPruned]]: copy-on-write MERGE that rewrites
  *    ONLY the files whose manifest key range can match the updates —
  *    at 100 TB a narrow-key merge touches a few files, not the table;
  *  - q164 [[TxTable.optimize]]: compaction/re-clustering as a committed
  *    transaction — an unclustered CDC append history becomes a skippable
  *    layout without breaking any pinned reader;
  *  - q166 additive schema evolution: a commit may append files carrying
  *    new columns; readers see old files' missing columns as null;
  *  - q167 [[TxTable.commitZOrdered]]: 2-D Morton layout + per-file stats
  *    on BOTH dimensions, so a `format("tx")` read skips files for
  *    predicates on either column (1-D clustering can only serve one).
  *
  * Every query's visible result restates in plain SQL over `orders`, so
  * the whole maintenance surface is hash-oracled; the layout/pruning
  * claims (files carried forward untouched, file counts, 2-D skipping)
  * are pinned in TxTableSpec, where result-identity alone can't see them.
  */
object TxMaint {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** `lo <= c <= hi` for every (c, lo, hi) over the z-order demos'
    * integral axes — long bounds, so the pushed comparisons reach
    * [[graft.sources.TxFileIndex]] without a cast around the column.
    */
  private def inRanges(specs: Seq[(String, Double, Double)]) =
    specs.map { case (c, lo, hi) => col(c).between(lo.toLong, hi.toLong) }
      .reduce(_ && _)

  private def offTemp(df: DataFrame, tmp: JPath): DataFrame = {
    val out = df.localCheckpoint(true)
    graft.streaming.Replay.deleteRecursively(tmp)
    out
  }

  // --------------------------------------------------------------- q163
  // Pruned copy-on-write merge: v0 publishes per-customer pre-1999 order
  // stats range-clustered on o_custkey (8 files, each a tight key range);
  // the merge updates ONLY customers 100..400 with their all-time stats.
  // The narrow key range intersects 1-2 of the 8 files — the rest are
  // carried into v1 untouched (TxTableSpec counts them). The head then
  // equals plain-SQL merge semantics: updated range rows replaced,
  // out-of-range rows intact, never-seen-before customers inserted.

  private val Cutoff = "1999-01-01"
  private val MergeLo = 100L
  private val MergeHi = 400L

  private def preStats(s: SparkSession, d: String): DataFrame =
    graft.Tables.orders(s, d)
      .filter(col("o_orderdate") < lit(Cutoff))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))

  def q163TxMergePruned(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txmerge_")
    val root = s"$tmp/cust_totals"
    TxTable.commit(s, root, preStats(s, d), TxTable.Overwrite,
      clusterBy = Some("o_custkey"))
    val upd = graft.Tables.orders(s, d)
      .filter(col("o_custkey").between(MergeLo, MergeHi))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
    TxTable.mergeByKeyPruned(s, root, upd, "o_custkey")
    offTemp(TxTable.read(s, root).orderBy("o_custkey"), tmp)
  }

  val q163Sql: String =
    s"""WITH pre AS (
       |  SELECT o_custkey, COUNT(*) AS n_orders,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |      AS total_price
       |  FROM orders WHERE o_orderdate < TIMESTAMP '$Cutoff 00:00:00'
       |  GROUP BY 1),
       |upd AS (
       |  SELECT o_custkey, COUNT(*) AS n_orders,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |      AS total_price
       |  FROM orders WHERE o_custkey BETWEEN $MergeLo AND $MergeHi
       |  GROUP BY 1)
       |SELECT o_custkey, n_orders, total_price FROM pre
       |  WHERE o_custkey NOT BETWEEN $MergeLo AND $MergeHi
       |UNION ALL
       |SELECT o_custkey, n_orders, total_price FROM upd
       |ORDER BY o_custkey""".stripMargin

  // --------------------------------------------------------------- q164
  // OPTIMIZE as a transaction: four unclustered CDC-style appends (one
  // file group per commit, no stats anywhere) are rewritten by
  // `optimize(4, clusterBy = o_totalprice)` into four range-clustered
  // files WITH footer stats — after which the same pruned range
  // aggregate that would have scanned every CDC file skips most of the
  // layout. The oracle proves optimize changed NOTHING visible: the
  // answer is exactly the plain filter's over `orders`.

  def q164TxOptimize(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txopt_")
    val root = s"$tmp/orders_cdc"
    val src = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    (0L until 4L).foreach { i =>
      TxTable.commit(s, root, src.filter(pmod(col("o_orderkey"), lit(4L)) === i),
        if (i == 0) TxTable.Overwrite else TxTable.Append)
    }
    TxTable.optimize(s, root, targetFiles = 4, clusterBy = Seq("o_totalprice"))
    val out = s.read.format("tx").load(root)
      .filter(col("o_totalprice").between(10000.0, 60000.0))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q164Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders WHERE o_totalprice >= 10000 AND o_totalprice <= 60000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q166
  // Additive schema evolution: v0 publishes the 'F' orders WITHOUT the
  // priority column; a later commit appends the remaining orders WITH it.
  // The head read merges the file schemas — old files surface the new
  // column as null — which is exactly the UNION ALL the oracle states.

  def q166TxSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txevo_")
    val root = s"$tmp/orders_evo"
    val src = graft.Tables.orders(s, d)
    TxTable.commit(s, root,
      src.filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice"),
      TxTable.Overwrite)
    TxTable.commit(s, root,
      src.filter(col("o_orderstatus") =!= "F")
        .select("o_orderkey", "o_totalprice", "o_orderpriority"),
      TxTable.Append)
    val out = TxTable.read(s, root)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")
    offTemp(out, tmp)
  }

  val q166Sql: String =
    """SELECT o_orderkey, o_totalprice,
      |  CAST(NULL AS VARCHAR) AS o_orderpriority
      |FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders WHERE o_orderstatus <> 'F'
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------- q167
  // Z-order layout + 2-D data skipping: orders committed in Morton order
  // of (o_custkey, price_bin = floor(o_totalprice / 16)), per-file stats
  // recorded on BOTH columns. The 2-D range read prunes at the manifest
  // on each dimension independently (TxTableSpec shows the conjunction
  // skips files neither 1-D predicate could); the exact predicates are
  // re-applied, so the answer is the plain 2-D filter's.

  private val ZCustLo = 200.0
  private val ZCustHi = 600.0
  private val ZBinLo = 1000.0
  private val ZBinHi = 3000.0

  def q167TxZorderSkip(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txzorder_")
    val root = s"$tmp/orders_z"
    val src = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice"),
        floor(col("o_totalprice") / 16d).cast("long").as("price_bin"))
    TxTable.commitZOrdered(s, root, src, "o_custkey", "price_bin",
      targetFiles = 8)
    val out = s.read.format("tx").load(root)
      .filter(inRanges(Seq(("o_custkey", ZCustLo, ZCustHi),
        ("price_bin", ZBinLo, ZBinHi))))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q167Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_price
       |FROM orders
       |WHERE o_custkey BETWEEN ${ZCustLo.toLong} AND ${ZCustHi.toLong}
       |  AND CAST(FLOOR(o_totalprice / 16) AS BIGINT)
       |        BETWEEN ${ZBinLo.toLong} AND ${ZBinHi.toLong}
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q168
  // Range DELETE with the three-way file classification: orders published
  // range-clustered on o_totalprice (tight per-file ranges), then
  // `deleteRange(o_totalprice, 20000, 200000)` — files wholly inside the
  // range leave the manifest with ZERO data I/O (TxTableSpec counts the
  // metadata-only drops), boundary files rewrite with the complement
  // filter, the rest carry forward. The head then equals the plain
  // complement filter over `orders`.

  private val DelLo = 20000.0
  private val DelHi = 200000.0

  def q168TxDelete(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txdel_")
    val root = s"$tmp/orders_del"
    TxTable.commit(s, root, graft.Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice"),
      TxTable.Overwrite, clusterBy = Some("o_totalprice"))
    TxTable.deleteRange(s, root, "o_totalprice", DelLo, DelHi)
    val out = TxTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q168Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_price
       |FROM orders
       |WHERE o_totalprice < ${DelLo.toLong} OR o_totalprice > ${DelHi.toLong}
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q169
  // Streaming additive MERGE: orders replayed as micro-batches; each
  // batch reduces to per-customer PARTIAL aggregates (count + decimal
  // sum) and merges additively into the transactional table under the
  // exactly-once (appId, batchId) publish. Decimal routing makes the
  // combine associative, so ANY batch split converges to the global
  // per-customer aggregate — which is exactly what the oracle states in
  // one plain GROUP BY. File-pruned CoW per batch: only files holding a
  // batch's customers rewrite. The at-scale CDC-aggregate sink: state IS
  // the queryable table (no separate state store), publish is atomic,
  // replay is idempotent (TxTableSpec's double-merge proof).
  def q169StreamTxMergeAdditive(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.Replay
    val proj = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val tmp = Files.createTempDirectory("graft_txaddm_")
    val root = s"$tmp/cust_running"
    val out = Replay.run(s, Replay.Drain(
      tag = "q169",
      srcSchema = graft.Tables.orders(s, d).select(proj.map(col): _*).schema,
      writeSource = (ss, srcDir) =>
        graft.Tables.orders(ss, d).select(proj.map(col): _*)
          .repartition(8, col("o_orderkey"))
          .write.mode("overwrite").parquet(srcDir),
      mkFold = (_, _) => (batch, batchId) =>
        TxTable.streamMergeAdditive(root, "q169", "o_custkey")(
          batch.groupBy("o_custkey")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .cast(DecimalType(18, 2)).as("total_price")),
          batchId),
      readResult = (ss, _) =>
        TxTable.read(ss, root)
          .select(col("o_custkey"), col("n_orders"),
            col("total_price").cast("double").as("total_price"))
          .orderBy("o_custkey")))
    graft.streaming.Replay.deleteRecursively(tmp)
    out
  }

  val q169Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------- q172 / q173
  // CDC consumption + audit of a transactional table. The publish uses
  // DETERMINISTIC batch composition — bucket k = o_orderkey % 8, one
  // Append commit per bucket under txn ("cdc", k) — so a version-window
  // read restates EXACTLY in DuckDB (a hash-partitioned replay's batch
  // membership is Murmur3-internal and unoracle-able; the q161/q169
  // drains prove replay mechanics, these two prove the READ side).
  private def cdcPublish(s: SparkSession, d: String): (String, JPath) = {
    val tmp = Files.createTempDirectory("graft_txcdcread_")
    val root = s"$tmp/orders_cdc"
    (0L until 8L).foreach { k =>
      TxTable.commit(s, root,
        graft.Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .filter(col("o_orderkey") % 8 === k),
        TxTable.Append, txn = Some(("cdc", k)))
    }
    (root, tmp)
  }

  /** Incremental downstream consumption (q172): a consumer that last saw
    * version 2 catches up to version 5 by reading ONLY the delta —
    * [[TxTable.readChanges]] resolves the files versions (2, 5] added
    * (buckets 3-5), never rescanning history. At 100 TB this is the
    * difference between "process the day's arrivals" and "rescan the
    * table": the delta read is O(new data) by construction.
    */
  def q172TxChangesRead(s: SparkSession, d: String): DataFrame = {
    val (root, tmp) = cdcPublish(s, d)
    val out = TxTable.readChanges(s, root, fromV = 2L, toV = 5L)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q172Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders WHERE o_orderkey % 8 IN (3, 4, 5)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Table audit (q173): [[TxTable.history]] — version, footer-derived
    * row count, txn high-water marks — restated row-for-row in SQL as
    * the cumulative bucket counts (file counts stay in the API but out
    * of the oracle: they depend on the session's partitioning, not the
    * data). DESCRIBE HISTORY as a hash-oracled query: the manifest
    * metadata IS derivable from the data because every commit's
    * membership is.
    */
  def q173TxHistory(s: SparkSession, d: String): DataFrame = {
    val (root, tmp) = cdcPublish(s, d)
    val out = TxTable.history(s, root)
      .select(col("version"), col("n_rows"), col("txns"))
      .orderBy("version")
    offTemp(out, tmp)
  }

  val q173Sql: String =
    """SELECT t.v AS version,
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 8 <= t.v)
      |    AS n_rows,
      |  'cdc=' || t.v AS txns
      |FROM range(0, 8) t(v) ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q174
  // Multi-hop incremental pipeline (the medallion bronze→silver hop):
  // bronze = the q172 CDC publish; silver = a per-priority additive
  // aggregate MAINTAINED by an incremental consumer that, on each poll,
  // reads ONLY bronze's new versions ([[TxTable.readChanges]] from its
  // cursor to the head) and merges the delta ([[TxTable.mergeAdditive]])
  // under txn ("hop", headVersion). The consumer's CURSOR is the txn
  // high-water in silver's own manifest — cursor advance and data merge
  // commit ATOMICALLY, so there is no crash window where the data landed
  // but the cursor didn't (or vice versa): a replayed poll no-ops at the
  // manifest. Polls are irregular (catch-up windows of 3, 3, then 2
  // versions, plus a replayed poll) and the converged silver equals one
  // plain GROUP BY over all of orders — at 100 TB each hop processes the
  // day's arrivals, never rescanning bronze.
  def q174TxIncrementalHop(s: SparkSession, d: String): DataFrame = {
    val (bronze, tmp) = cdcPublish(s, d)
    val silver = s"$tmp/silver_prio"
    def cursor(): Long = TxTable.currentSnapshot(silver)
      .flatMap(_.txns.get("hop")).getOrElse(-1L)
    def poll(head: Long): Unit = {
      val delta = TxTable.readChanges(s, bronze, cursor(), head)
        .select(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
          .as("prio_no"), col("o_totalprice"))
        .groupBy("prio_no")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).as("total_price"))
      TxTable.mergeAdditive(s, silver, delta, "prio_no",
        txn = Some(("hop", head)))
      ()
    }
    poll(2L); poll(5L)
    poll(5L) // replayed poll: cursor == head — the txn no-ops, no re-add
    poll(7L)
    val out = TxTable.read(s, silver)
      .select(col("prio_no"), col("n_orders"),
        col("total_price").cast("double").as("total_price"))
      .orderBy("prio_no")
    offTemp(out, tmp)
  }

  val q174Sql: String =
    """SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio_no,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q177
  // Merge-on-read DELETE (deletion vectors): orders published clustered
  // on o_totalprice, then TWO predicate deletes that rewrite NO data file
  // — each writes only a deletion-vector parquet of matched row positions
  // and a manifest with `dv` lines (TxDvSpec pins the file-list identity;
  // at 100 TB a delete commit is kilobytes). The second delete overlaps
  // the first, exercising the already-deleted-position exclusion. The
  // head read applies the DVs in the parquet reader by (file, row index),
  // and must equal the plain-SQL complement filter — the MoR counterpart
  // of q168's copy-on-write deleteRange.
  def q177TxDeleteMor(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txmor_")
    val root = s"$tmp/orders_mor"
    TxTable.commit(s, root, graft.Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice"),
      TxTable.Overwrite, clusterBy = Some("o_totalprice"))
    TxTable.deleteWhere(s, root, col("o_orderstatus") === "O")
    // overlaps: some o_totalprice < 50000 rows were already status-O
    TxTable.deleteWhere(s, root, col("o_totalprice") < 50000.0,
      prune = Seq(("o_totalprice", Double.MinValue, 50000.0)))
    val out = TxTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"))
        .as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q177Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders
      |WHERE NOT (o_orderstatus = 'O') AND NOT (o_totalprice < 50000)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q178
  // Bloom-filter point lookup: orders published clustered on o_totalprice
  // — so per-file min/max serves PRICE ranges and is useless for an
  // o_orderkey point lookup (keys scatter across every file) — with
  // per-file bloom filters on o_orderkey in the manifest. The lookup set
  // is 7 data-derived keys (bounded driver collect); the pushed IN probes
  // each file's bloom with the same xxhash64 family the commit built and
  // scans only possible-containing files (TxBloomSpec pins the skipping
  // ratio and the no-false-negative contract; at 100 TB this is Delta's
  // bloom index: a needle lookup reads a handful of files, not the
  // table). The exact IN filter re-applies, so the result equals the
  // plain-SQL semi-join.
  def q178TxBloomLookup(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txbloom_")
    val root = s"$tmp/orders_bloom"
    val keys = graft.Tables.orders(s, d)
      .select("o_orderkey").filter(col("o_orderkey") % 13 === 0)
      .distinct().orderBy("o_orderkey").limit(7)
      .collect().map(_.getLong(0)).toSeq
    TxTable.commit(s, root, graft.Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice"),
      TxTable.Overwrite, clusterBy = Some("o_totalprice"),
      bloomCols = Seq("o_orderkey"))
    val out = s.read.format("tx").load(root)
      .filter(col("o_orderkey").isin(keys: _*))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice"))
        .as("total_price"))
      .orderBy("o_orderkey")
    offTemp(out, tmp)
  }

  val q178Sql: String =
    """WITH keys AS (
      |  SELECT DISTINCT o_orderkey FROM orders
      |  WHERE o_orderkey % 13 = 0 ORDER BY 1 LIMIT 7)
      |SELECT o.o_orderkey, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders o JOIN keys k ON o.o_orderkey = k.o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q180
  // CHECK-constrained publish: v0 holds two thirds of orders, addCheck
  // pins `o_totalprice > 0` (validated against existing content), a
  // POISONED append of the remaining third (prices negated) is REJECTED
  // at commit time — nothing published, the head still reads v1 — and
  // the clean append then completes the table. The head equals plain SQL
  // over ALL of orders precisely BECAUSE enforcement let the bad batch
  // change nothing: a silent partial publish of the poisoned batch would
  // hash-mismatch the oracle (TxCheckSpec pins the abort mechanics; at
  // 100 TB validation costs one scan of the incoming delta, never the
  // table).
  def q180TxConstraints(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txcheck_")
    val root = s"$tmp/orders_checked"
    val proj = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
    val base = graft.Tables.orders(s, d).select(proj.map(col): _*)
    TxTable.commit(s, root, base.filter(col("o_orderkey") % 3 =!= 0),
      TxTable.Overwrite, clusterBy = Some("o_orderkey"))
    TxTable.addCheck(s, root, "price_pos", "o_totalprice > 0")
    val rest = base.filter(col("o_orderkey") % 3 === 0)
    try {
      TxTable.commit(s, root,
        rest.withColumn("o_totalprice", -col("o_totalprice")),
        TxTable.Append)
      throw new IllegalStateException(
        "q180: poisoned append was NOT rejected — enforcement broken")
    } catch { case _: IllegalArgumentException => () }
    TxTable.commit(s, root, rest, TxTable.Append)
    val out = TxTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"))
        .as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q180Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q183
  // Targeted small-file compaction: the q172 CDC publish leaves 8
  // one-file-per-batch appends plus one PRE-COMPACTED large generation
  // (an Overwrite-sized file committed first and carried through every
  // append). compactSmall re-bins ONLY the small CDC tail — the large
  // file is carried into the child manifest untouched (TxCompactSpec
  // counts it; Delta's OPTIMIZE policy, where q164's whole-table rewrite
  // is the blunt form) — and the head equals plain SQL over orders. At
  // 100 TB this is "compact the day's small-file tail in O(tail)",
  // never touching compacted history.
  def q183TxCompactSmall(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txcompact_")
    val root = s"$tmp/orders_tail"
    val base = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    // one large generation: 3/4 of orders in a single file
    TxTable.commit(s, root,
      base.filter(col("o_orderkey") % 4 =!= 0).repartition(1),
      TxTable.Overwrite)
    // small CDC tail: the remaining 1/4 in 8 per-batch files
    (0L until 8L).foreach { k =>
      TxTable.commit(s, root,
        base.filter(col("o_orderkey") % 4 === 0 &&
          col("o_orderkey") % 8000 >= k * 1000 &&
          col("o_orderkey") % 8000 < (k + 1) * 1000),
        TxTable.Append, txn = Some(("tail", k)))
    }
    TxTable.compactSmall(s, root, minBytes = 256 << 10)
    val out = TxTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"))
        .as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q183Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q205
  /** Column-mapping lifecycle in the gate: documents land clustered on
    * n_chars (tight stat ranges), evolve through TWO metadata-only
    * renames (source→origin BEFORE more data arrives, so the table
    * holds mixed column vintages; n_chars→chars AFTER its stat lines
    * were recorded under the old name) and a DROP (lang tombstoned,
    * bytes stranded unprojected) — then the final read is a
    * stat-PRUNED range read addressed entirely by the NEW names. The
    * oracle restates it on raw documents: any vintage the coalesce
    * resolution mixed up, any stat line the alias lookup missed (no
    * pruning = still correct, but a WRONG prune drops rows), or any
    * resurrected dropped column would hash-fail.
    */
  def q205TxColumnMap(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txcolmap_")
    val root = s"$tmp/docs_evolving"
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    def slice(m: Int) = graft.Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(3)) === m).select(cols.map(col): _*)
    TxTable.commit(s, root, slice(0), TxTable.Overwrite,
      clusterBy = Some("n_chars"))
    TxTable.commit(s, root, slice(1), TxTable.Append,
      clusterBy = Some("n_chars"))
    TxTable.renameColumn(s, root, "source", "origin")
    // post-rename arrivals carry the new vintage
    TxTable.commit(s, root,
      slice(2).withColumnRenamed("source", "origin"), TxTable.Append,
      clusterBy = Some("n_chars"))
    TxTable.renameColumn(s, root, "n_chars", "chars")
    TxTable.dropColumn(s, root, "lang")
    val out = s.read.format("tx").load(root)
      .filter(col("chars").between(200L, 600L))
      .groupBy("origin")
      .agg(count(lit(1)).as("n_docs"),
        sum("chars").cast("long").as("total_chars"))
      .orderBy("origin")
    require(!out.columns.contains("lang"), "dropped column resurfaced")
    offTemp(out, tmp)
  }

  val q205Sql: String =
    """SELECT source AS origin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |WHERE n_chars >= 200 AND n_chars <= 600
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q217
  // Zero-copy CLONE (Delta's SHALLOW CLONE): the source publishes orders
  // in two commits, the clone's v0 is ONE manifest write referencing the
  // source's files absolutely (format 7, no data bytes move — at 100 TB
  // a dev/test fork of the production table costs kilobytes), then the
  // histories diverge: a MoR delete DVs the FOREIGN files (row identity
  // is root-independent, so the dv keying survives the clone) and
  // purgeDeletes materializes the survivors into the clone's own root —
  // after which the SOURCE still answers its full, untouched content.
  // Both sides' aggregates restate in plain SQL over orders.
  def q217TxClone(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txclone_")
    val src = s"$tmp/orders_src"
    val cln = s"$tmp/orders_fork"
    val orders = graft.Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")
    TxTable.commit(s, src, orders.filter(col("o_orderkey") % 2 === 0),
      TxTable.Overwrite, clusterBy = Some("o_totalprice"))
    TxTable.commit(s, src, orders.filter(col("o_orderkey") % 2 =!= 0),
      TxTable.Append)
    TxTable.clone(s, src, cln)
    // diverge the fork only: drop open orders, then materialize
    TxTable.deleteWhere(s, cln, col("o_orderstatus") === "O")
    TxTable.purgeDeletes(s, cln)
    def side(root: String, name: String) =
      TxTable.read(s, root).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(name).as("side"), col("o_orderstatus"),
          col("n_orders"), col("total_price"))
    val out = side(src, "src").unionAll(side(cln, "fork"))
      .orderBy("side", "o_orderstatus")
    offTemp(out, tmp)
  }

  val q217Sql: String =
    """SELECT * FROM (
      |  SELECT 'src' AS side, o_orderstatus, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |      AS total_price
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 'fork' AS side, o_orderstatus, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |      AS total_price
      |  FROM orders WHERE NOT (o_orderstatus = 'O') GROUP BY 2
      |) ORDER BY side, o_orderstatus""".stripMargin

  // --------------------------------------------------------------- q221
  // MoR UPDATE (Delta's DV-backed UPDATE): the matched rows' positions
  // DV out of their files and the updated images append — ONE atomic
  // commit, kilobytes of writes at any table size (vs mergeByKey's
  // copy-on-write file rewrites). The follow-up MoR DELETE composes
  // over the update (its predicate sees post-update values; DV'd
  // originals stay excluded), and the change feed reads the update
  // version as update_preimage/update_postimage pairs — all of it
  // restated arithmetically over raw orders.
  def q221TxUpdateMor(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txupd_")
    val root = s"$tmp/orders_upd"
    // bucketed commit (r19): the update's image append re-buckets
    // through the same pmod(murmur3), so the co-location declaration
    // must survive BOTH MoR verbs — guarded in-query below
    TxTable.commit(s, root, graft.Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_totalprice"),
      TxTable.Overwrite, bucketBy = Some(("o_orderkey", 8)))
    TxTable.updateWhere(s, root, col("o_orderstatus") === "O",
      Seq(
        "o_totalprice" -> (col("o_totalprice") + lit(1000.0)),
        "o_orderpriority" -> concat(lit("U:"), col("o_orderpriority"))))
    TxTable.deleteWhere(s, root, col("o_totalprice") < 5000.0)
    val snapDml = TxTable.currentSnapshot(root).get
    require(snapDml.bucketSpec.contains((8, Seq("o_orderkey"))),
      s"MoR update/delete dropped the bucket layout: ${snapDml.bucketSpec}")
    val changes = graft.operators.TxChangeFeed
      .readChangeFeed(s, root, 0L, 1L, "o_orderkey")
      .agg(
        count(when(col("_change_type") === "update_preimage", 1))
          .as("n_pre"),
        count(when(col("_change_type") === "update_postimage", 1))
          .as("n_post"))
    val out = TxTable.read(s, root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .crossJoin(changes)
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q221Sql: String =
    """WITH u AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderstatus = 'O'
      |      THEN 'U:' || o_orderpriority ELSE o_orderpriority END
      |      AS o_orderpriority,
      |    CASE WHEN o_orderstatus = 'O'
      |      THEN o_totalprice + 1000.0 ELSE o_totalprice END
      |      AS o_totalprice
      |  FROM orders),
      |live AS (SELECT * FROM u WHERE NOT (o_totalprice < 5000.0))
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price,
      |  (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O') AS n_pre,
      |  (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O') AS n_post
      |FROM live GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q231
  // N-column Z-order + 3-D data skipping: orders committed in 3-D Morton
  // order of (o_custkey, price_bin = floor(o_totalprice / 16), date_bin =
  // days since 1992-01-01), per-file stats recorded on ALL THREE columns
  // (21 bits per dimension — every bin fits at any test SF). The 3-D
  // range read prunes at the manifest on each axis independently;
  // TxTableSpec pins conjunction <= every 1-D pruning on a 16^3 grid.
  // Exact predicates are re-applied, so the answer is the plain filter's.

  private val Z3CustLo = 200.0
  private val Z3CustHi = 600.0
  private val Z3BinLo = 1000.0
  private val Z3BinHi = 3000.0
  private val Z3DayLo = 400.0
  private val Z3DayHi = 1600.0

  def q231TxZorder3Skip(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txzorder3_")
    val root = s"$tmp/orders_z3"
    val src = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice"),
        floor(col("o_totalprice") / 16d).cast("long").as("price_bin"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
          .as("date_bin"))
    TxTable.commitZOrderedMulti(s, root,
      src, Seq("o_custkey", "price_bin", "date_bin"), targetFiles = 8)
    val specs = Seq(
      ("o_custkey", Z3CustLo, Z3CustHi), ("price_bin", Z3BinLo, Z3BinHi),
      ("date_bin", Z3DayLo, Z3DayHi))
    // in-query guard: the gate itself certifies the layout skipped files
    val snap = TxTable.currentSnapshot(root).get
    require(TxTable.statPrunedFiles(root, snap, specs).size <
      snap.files.size, "3-D z-order pruned nothing — layout regression")
    val out = s.read.format("tx").load(root).filter(inRanges(specs))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q231Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |    AS total_price
       |FROM orders
       |WHERE o_custkey BETWEEN ${Z3CustLo.toLong} AND ${Z3CustHi.toLong}
       |  AND CAST(FLOOR(o_totalprice / 16) AS BIGINT)
       |        BETWEEN ${Z3BinLo.toLong} AND ${Z3BinHi.toLong}
       |  AND date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
       |        BETWEEN ${Z3DayLo.toLong} AND ${Z3DayHi.toLong}
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q232
  // In-place Hilbert re-cluster (tx_zorder's curve option): orders land
  // UNCLUSTERED (orderkey-ordered — date/custkey ranges span every file),
  // then zorderTable(curve=hilbert) rewrites the snapshot in 3-D Hilbert
  // order of the same dimensions as q231. Consecutive Hilbert indexes are
  // L1-neighbors, so the range shuffle's unaligned file boundaries cut
  // tighter coordinate boxes than Morton seam-jumps; the pruned read's
  // exact predicates re-apply, so the answer is the plain filter's.
  // AdvancedSpec pins curve correctness (exhaustive adjacency +
  // round-trip); TxTableSpec pins that the re-layout makes all axes
  // prune.

  def q232TxHilbertSkip(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txhilbert_")
    val root = s"$tmp/orders_h3"
    val src = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice"),
        floor(col("o_totalprice") / 16d).cast("long").as("price_bin"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
          .as("date_bin"))
    TxTable.commit(s, root, src,
      statsCols = Seq("o_custkey", "price_bin", "date_bin"))
    TxTable.zorderTable(s, root,
      Seq("o_custkey", "price_bin", "date_bin"), targetFiles = 8,
      curve = "hilbert")
    val specs = Seq(
      ("o_custkey", Z3CustLo, Z3CustHi), ("price_bin", Z3BinLo, Z3BinHi),
      ("date_bin", Z3DayLo, Z3DayHi))
    val snap = TxTable.currentSnapshot(root).get
    require(TxTable.statPrunedFiles(root, snap, specs).size <
      snap.files.size,
      "3-D hilbert re-cluster pruned nothing — layout regression")
    val out = s.read.format("tx").load(root).filter(inRanges(specs))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q232Sql: String = q231Sql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q232_tx_hilbert_skip" -> (q232TxHilbertSkip _),
    "q231_tx_zorder3_skip" -> (q231TxZorder3Skip _),
    "q221_tx_update_mor" -> (q221TxUpdateMor _),
    "q217_tx_clone" -> (q217TxClone _),
    "q205_tx_column_map" -> (q205TxColumnMap _),
    "q177_tx_delete_mor" -> (q177TxDeleteMor _),
    "q178_tx_bloom_lookup" -> (q178TxBloomLookup _),
    "q180_tx_constraints" -> (q180TxConstraints _),
    "q183_tx_compact_small" -> (q183TxCompactSmall _),
    "q163_tx_merge_pruned" -> (q163TxMergePruned _),
    "q164_tx_optimize" -> (q164TxOptimize _),
    "q166_tx_schema_evolution" -> (q166TxSchemaEvolution _),
    "q167_tx_zorder_skip" -> (q167TxZorderSkip _),
    "q168_tx_delete" -> (q168TxDelete _),
    "q169_stream_tx_merge" -> (q169StreamTxMergeAdditive _),
    "q172_tx_changes_read" -> (q172TxChangesRead _),
    "q173_tx_history" -> (q173TxHistory _),
    "q174_tx_incremental_hop" -> (q174TxIncrementalHop _))

  val oracles: Map[String, String] = Map(
    "q232_tx_hilbert_skip" -> q232Sql,
    "q231_tx_zorder3_skip" -> q231Sql,
    "q221_tx_update_mor" -> q221Sql,
    "q217_tx_clone" -> q217Sql,
    "q205_tx_column_map" -> q205Sql,
    "q177_tx_delete_mor" -> q177Sql,
    "q178_tx_bloom_lookup" -> q178Sql,
    "q180_tx_constraints" -> q180Sql,
    "q183_tx_compact_small" -> q183Sql,
    "q163_tx_merge_pruned" -> q163Sql,
    "q164_tx_optimize" -> q164Sql,
    "q166_tx_schema_evolution" -> q166Sql,
    "q167_tx_zorder_skip" -> q167Sql,
    "q168_tx_delete" -> q168Sql,
    "q169_stream_tx_merge" -> q169Sql,
    "q172_tx_changes_read" -> q172Sql,
    "q173_tx_history" -> q173Sql,
    "q174_tx_incremental_hop" -> q174Sql)
}
