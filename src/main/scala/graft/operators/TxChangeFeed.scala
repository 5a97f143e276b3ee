package graft.operators

import java.nio.file.{Files, Path => JPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Row-level CHANGE DATA FEED reconstructed from [[TxTable]] manifests —
  * the public Iceberg changelog-scan technique (`create_changelog_view`):
  * no change files are written at commit time; instead each version's
  * delta is derived from what its manifest says happened, so the feed
  * costs nothing until somebody asks for it and then only scans each
  * version's CHANGED scope, never the table.
  *
  * Per-version derivation, keyed by the manifest's recorded `op`:
  *   - `append`            → added files' rows are `insert`s (raw read —
  *                           O(delta), the common CDC-sink case);
  *   - `delete_mor`        → the version's NEW deletion-vector positions
  *                           name the deleted rows exactly — a semi-join
  *                           of the affected files against the new DV
  *                           blobs yields precise `delete` rows (this is
  *                           where MoR deletes beat copy-on-write for
  *                           CDC: the delete is self-describing);
  *   - `optimize`/`purge`/`add_check` → no data change, empty (Delta's
  *                           dataChange=false commits);
  *   - everything else (overwrite, merge, merge_additive, delete_range,
  *     zorder, pre-`op` manifests) → NET-CHANGE DIFF of removed vs added
  *     files: carryover rows (rewritten byte-identical — the bulk of any
  *     copy-on-write file) cancel via `exceptAll` in both directions,
  *     then one window over `keyCol` classifies survivors as
  *     `update_preimage`/`update_postimage` (key on both sides),
  *     `delete` (old side only) or `insert` (new side only) — Iceberg's
  *     carry-over-row elimination, shaped as one shuffle on the key with
  *     NO self-join (the repo's AMBIGUOUS_SELF_JOIN rule).
  *
  * Contract: `keyCol` must be a row-unique key for update pairing (the
  * same contract every MERGE holds); both end versions must be retained.
  * Output = table columns + `_change_type` + `_commit_version`, union'd
  * by name across versions (schema evolution safe).
  */
object TxChangeFeed {

  private val Pre = "update_preimage"
  private val Post = "update_postimage"

  private def withMeta(df: DataFrame, ct: org.apache.spark.sql.Column,
      v: Long): DataFrame =
    df.withColumn("_change_type", ct)
      .withColumn("_commit_version", lit(v))

  /** Changes in versions `(fromV, toV]`, oldest first; `fromV = -1`
    * reads from the beginning.
    */
  def readChangeFeed(s: SparkSession, root: String, fromV: Long, toV: Long,
      keyCol: String): DataFrame = {
    require(fromV <= toV, s"readChangeFeed: fromV $fromV > toV $toV")
    require(fromV >= -1L, s"readChangeFeed: fromV $fromV < -1")
    // the key's full rename class (resolved at the window END, whose
    // manifest accumulates every rename): versions before a mid-window
    // rename carry the key under its write-time vintage, and each
    // version's diff resolves whichever member its columns hold
    val keyNames =
      TxTable.nameClass(TxTable.snapshotAt(root, toV), keyCol)
    val frames = (math.max(0L, fromV + 1) to toV)
      .flatMap(v => changesAt(s, root, v, keyNames))
    if (frames.isEmpty)
      withMeta(TxTable.read(s, root).limit(0), lit(""), 0L).limit(0)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def changesAt(s: SparkSession, root: String, v: Long,
      keyNames: Seq[String]): Option[DataFrame] = {
    val snap = TxTable.snapshotAt(root, v)
    val parent = if (v == 0) None else Some(TxTable.snapshotAt(root, v - 1))
    snap.op match {
      case Some("optimize") | Some("purge") | Some("add_check") |
           Some("compact") => None
      case Some("append") =>
        val base = parent.map(_.files.toSet).getOrElse(Set.empty)
        val added = snap.files.filterNot(base.contains)
        if (added.isEmpty) None
        else Some(withMeta(TxTable.projectLogical(snap,
          TxTable.readDataFiles(s, snap,
            added.map(f => TxTable.absFile(root, f)))), lit("insert"), v))
      case Some("delete_mor") => morDeletes(s, root, v, snap, parent)
      // MoR UPDATE: the version's fresh DV positions are the
      // pre-images, its added files the post-images — both sides from
      // the manifest delta, no key-window diff needed
      case Some("update_mor") =>
        val pre = morDeletes(s, root, v, snap, parent, ct = Pre)
        val base = parent.map(_.files.toSet).getOrElse(Set.empty)
        val added = snap.files.filterNot(base.contains)
        val post =
          if (added.isEmpty) None
          else Some(withMeta(TxTable.projectLogical(snap,
            TxTable.readDataFiles(s, snap,
              added.map(f => TxTable.absFile(root, f)))), lit(Post), v))
        (pre, post) match {
          case (Some(a), Some(b)) =>
            Some(a.unionByName(b, allowMissingColumns = true))
          case (a, b) => a.orElse(b)
        }
      // rename/drop are metadata-only (no files move): no change rows —
      // later versions' rows simply arrive under the new logical names
      // and the consumer's align/key resolution follows the alias class
      case Some("rename_column") | Some("drop_column")
         | Some("widen_column") => None
      case _ => keyedDiff(s, root, v, snap, parent, keyNames)
    }
  }

  /** The rows a MoR delete removed: exactly the positions in this
    * version's NEW deletion-vector blobs (alive at the parent by
    * [[TxTable.deleteWhere]]'s already-deleted exclusion).
    */
  private def morDeletes(s: SparkSession, root: String, v: Long,
      snap: TxTable.Snapshot,
      parent: Option[TxTable.Snapshot],
      ct: String = "delete"): Option[DataFrame] = {
    val parentDvFiles = parent.map(_.dvs.values.flatten.map(_._1).toSet)
      .getOrElse(Set.empty)
    val touched = snap.dvs.toSeq.flatMap { case (f, es) =>
      val fresh = es.map(_._1).filterNot(parentDvFiles.contains)
      if (fresh.isEmpty) None else Some(f -> fresh)
    }
    if (touched.isEmpty) return None
    val dvFiles = touched.flatMap(_._2).distinct
    // the blob schema is pinned: no schema-inference job per poll
    val dv = s.read.schema("file STRING, pos BIGINT")
      .parquet(dvFiles.map(f => TxTable.absFile(root, f)): _*)
      .select(col("file").as("__dv_file"), col("pos").as("__dv_pos"))
    val base = TxTable.readDataFiles(s, snap,
        touched.map(t => TxTable.absFile(root, t._1)))
      .withColumn("__rel", TxTable.relFileFromMeta)
      .withColumn("__pos", col("_metadata.row_index"))
    val deleted = base.join(broadcast(dv),
        base("__rel") === dv("__dv_file") &&
          base("__pos") === dv("__dv_pos"), "left_semi")
      .drop("__rel", "__pos")
    Some(withMeta(TxTable.projectLogical(snap, deleted), lit(ct), v))
  }

  /** Net-change diff of a rewrite commit: carryovers cancel, then one
    * key-window classifies. No self-join: both sides union with a tag
    * and the window sees pre/post together.
    */
  private def keyedDiff(s: SparkSession, root: String, v: Long,
      snap: TxTable.Snapshot, parent: Option[TxTable.Snapshot],
      keyNames: Seq[String]): Option[DataFrame] = {
    val snapSet = snap.files.toSet
    val parentFiles = parent.map(_.files).getOrElse(Seq.empty)
    val parentSet = parentFiles.toSet
    val removed = parentFiles.filterNot(snapSet.contains)
    val added = snap.files.filterNot(parentSet.contains)
    if (removed.isEmpty && added.isEmpty) return None
    def readSide(files: Seq[String],
        owner: Option[TxTable.Snapshot]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(TxTable.readFilesWithDvs(s, root, owner.get, files))
    val oldDf = readSide(removed, parent)
    val newDf = readSide(added, Some(snap))
    // shared columns in a canonical order: exceptAll needs equal schemas
    val cols = (oldDf, newDf) match {
      case (Some(o), Some(n)) => n.columns.filter(o.columns.contains).toSeq
      case (o, n) => o.orElse(n).get.columns.toSeq
    }
    val proj = cols.map(col)
    val keyName = keyNames.find(cols.contains).getOrElse(
      throw new java.io.IOException(
        s"change feed at $root v$v: key column '${keyNames.head}' (nor " +
          s"any rename vintage of it, ${keyNames.mkString("/")}) is " +
          s"present in this version's columns ${cols.mkString(", ")}"))
    // one-sided versions classify without the key window: with no post
    // rows anywhere, hasPost is 0 for EVERY key, so the window labels
    // every pre row 'delete' (symmetrically 'insert') — the exchange +
    // sort it costs prove nothing. The common case is the table's
    // initial overwrite (v0 in every from-the-beginning feed read): at
    // scale that window shuffled the WHOLE first snapshot (guide §2.4,
    // remove shuffles outright; r19 opt round — plan went 2 exchanges →
    // 0 for the v0 frame, classification provably identical).
    val tagged = (oldDf, newDf) match {
      case (Some(o), None) =>
        return Some(withMeta(o.select(proj: _*), lit("delete"), v))
      case (None, Some(n)) =>
        return Some(withMeta(n.select(proj: _*), lit("insert"), v))
      case (None, None) => return None
      // carryover elimination in ONE aggregate: per identical full row,
      // count pre/post occurrences; the net difference survives on the
      // majority side, replicated back to rows (exactly what two
      // exceptAll calls compute, at half the shuffled volume — each
      // exceptAll is itself a count-aggregate + replicate underneath)
      case (Some(o), Some(n)) =>
        val u = o.select(proj: _*).withColumn("__side", lit("pre"))
          .unionByName(n.select(proj: _*).withColumn("__side", lit("post")))
        val counted = u.groupBy(proj: _*).agg(
          sum(when(col("__side") === "pre", 1L).otherwise(0L)).as("__npre"),
          sum(when(col("__side") === "post", 1L).otherwise(0L)).as("__npost"))
        val net = counted
          .withColumn("__n", abs(col("__npre") - col("__npost")))
          .filter(col("__n") > 0)
          .withColumn("__side",
            when(col("__npre") > col("__npost"), "pre").otherwise("post"))
        net.withColumn("__rep",
            explode_outer(sequence(lit(1L), col("__n"))))
          .select(proj :+ col("__side"): _*)
    }
    val w = Window.partitionBy(keyName)
    val hasPre = max(when(col("__side") === "pre", 1).otherwise(0)).over(w)
    val hasPost = max(when(col("__side") === "post", 1).otherwise(0)).over(w)
    val ct = when(col("__side") === "pre",
        when(hasPost === 1, Pre).otherwise("delete"))
      .otherwise(when(hasPre === 1, Post).otherwise("insert"))
    Some(withMeta(tagged, ct, v).drop("__side"))
  }

  /** Packaged incremental CDF consumer (r12 VERDICT task 2) — the
    * Delta/Iceberg CDF-source shape, generalized from q182's hand-rolled
    * poll loop so every derived table does NOT reimplement the
    * cursor-advances-atomically-with-merge pattern:
    *
    *  - **cursor** = the silver's own txn high-water for `appId`
    *    ([[TxTable.Snapshot.txns]]) — the bronze version this consumer
    *    has folded through, stored IN the table it maintains, so there
    *    is no side-channel offset file to drift from the data;
    *  - **window** = the change feed over `(cursor, head]`
    *    ([[readChangeFeed]] — row-level inserts/deletes/update pairs,
    *    bounded by those versions' deltas, never a bronze rescan);
    *  - **fold** maps the window to a SIGNED additive delta keyed by
    *    `mergeKey` (the IVM delta rule ΔV = V(ΔB));
    *  - **commit**: [[TxTable.mergeAdditive]] under `(appId, head)` —
    *    data merge and cursor advance are ONE manifest publish, so a
    *    crashed poll replays idempotently (the txn no-ops) and there is
    *    no torn state between "merged" and "advanced" (CdfConsumeSpec's
    *    replay cases).
    *
    * Returns the committed silver version, or None when the cursor is
    * already at (or past) `upTo`/head — a no-op poll never commits, so
    * idle polling is manifest-read-only. Multiple independent consumers
    * (distinct `appId`s, any cadence) converge to identical silver
    * content because each fold window partitions the same feed (q196).
    *
    * Scale: per poll, work is O(changed rows in the window) + one
    * additive merge into a key-pruned silver — a consumer that falls
    * behind pays one larger window, never a base-table scan.
    */
  def consume(s: SparkSession, bronze: String, silver: String,
      appId: String, keyCol: String, mergeKey: String,
      upTo: Option[Long] = None)(
      fold: DataFrame => DataFrame): Option[Long] = {
    val head = upTo.orElse(TxTable.currentVersion(bronze))
      .getOrElse(return None)
    val cursor = TxTable.currentSnapshot(silver)
      .flatMap(_.txns.get(appId)).getOrElse(-1L)
    if (head <= cursor) return None
    val delta = fold(readChangeFeed(s, bronze, cursor, head, keyCol))
    Some(TxTable.mergeAdditive(s, silver, delta, mergeKey,
      txn = Some((appId, head))))
  }

  // ------------------------------------------------------- driver query

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  private def offTemp(df: DataFrame, tmp: JPath): DataFrame = {
    val out = df.localCheckpoint(true)
    graft.streaming.Replay.deleteRecursively(tmp)
    out
  }

  // --------------------------------------------------------------- q181
  // The feed over a five-op lifecycle on orders: v0 overwrite (2/4 of
  // keys), v1 append (another 1/4), v2 MoR delete (cheap orders), v3
  // pruned CoW merge (inserts the last 1/4, updates keys ≡ 1 mod 1000
  // that SURVIVED the delete — deleted keys in the update batch come
  // back as inserts), v4 optimize (must contribute NOTHING). The
  // grouped (version, change_type) accounting restates in plain SQL
  // because every op's membership is deterministic — including the
  // carryover cancellation: rows a rewrite carried byte-identical never
  // appear, so v3's counts are the NET update/insert sets only.
  def q181TxChangeFeed(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txcdf_")
    val root = s"$tmp/orders_cdf"
    val proj = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
    val base = graft.Tables.orders(s, d).select(proj.map(col): _*)
    TxTable.commit(s, root, base.filter(col("o_orderkey") % 4 < 2),
      TxTable.Overwrite, clusterBy = Some("o_orderkey"))
    TxTable.commit(s, root, base.filter(col("o_orderkey") % 4 === 2),
      TxTable.Append, clusterBy = Some("o_orderkey"))
    TxTable.deleteWhere(s, root, col("o_totalprice") < 20000.0)
    val updates = base.filter(col("o_orderkey") % 4 === 3)
      .unionByName(base
        .filter(col("o_orderkey") % 1000 === 1 && col("o_orderkey") % 4 < 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0))
    TxTable.mergeByKeyPruned(s, root, updates, "o_orderkey")
    TxTable.optimize(s, root, 8, clusterBy = Seq("o_orderkey"))
    val out = readChangeFeed(s, root, 0L,
        TxTable.currentVersion(root).get, "o_orderkey")
      .groupBy("_commit_version", "_change_type")
      .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice"))
        .as("total_price"))
      .orderBy("_commit_version", "_change_type")
      .select(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"),
        col("n_rows"), col("total_price"))
    offTemp(out, tmp)
  }

  /** Membership restated op by op. v1: keys ≡ 2 (mod 4). v2: keys ≡ 0,1,2
    * with price < 20000. v3 updates touch keys ≡ 1 (mod 1000) among keys
    * ≡ 0,1,2 (mod 4): survivors (price ≥ 20000) pre+post at ±0/+1,
    * deleted ones re-insert at price+1; the merge also inserts all keys
    * ≡ 3 (mod 4). v4 contributes no rows.
    */
  val q181Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k, o_orderpriority, o_totalprice AS p
      |  FROM orders),
      |v1 AS (
      |  SELECT 1 AS v, 'insert' AS ct, p FROM o WHERE k % 4 = 2),
      |v2 AS (
      |  SELECT 2 AS v, 'delete' AS ct, p FROM o
      |  WHERE k % 4 < 3 AND p < 20000),
      |upd AS (SELECT * FROM o WHERE k % 1000 = 1 AND k % 4 < 3),
      |v3 AS (
      |  SELECT 3 AS v, 'insert' AS ct, p FROM o WHERE k % 4 = 3
      |  UNION ALL
      |  SELECT 3, 'insert', p + 1 FROM upd WHERE p < 20000
      |  UNION ALL
      |  SELECT 3, 'update_preimage', p FROM upd WHERE p >= 20000
      |  UNION ALL
      |  SELECT 3, 'update_postimage', p + 1 FROM upd WHERE p >= 20000),
      |feed AS (
      |  SELECT * FROM v1 UNION ALL SELECT * FROM v2
      |  UNION ALL SELECT * FROM v3)
      |SELECT CAST(v AS BIGINT) AS commit_version, ct AS change_type,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM feed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q182
  // Incremental view maintenance over the feed: a silver per-priority
  // aggregate maintained ONLY from bronze's row-level changes — each
  // poll reads the feed window since its cursor, folds it to a SIGNED
  // delta (+1/+price for insert & update_postimage, -1/-price for
  // delete & update_preimage — update pairs net to the price bump), and
  // merges additively under txn ("ivm", headVersion), so cursor advance
  // and data merge commit atomically and a replayed poll no-ops. This is
  // what the CDF buys over q174's append-only hop: the view stays EXACT
  // under updates and deletes, never rescanning bronze — the classic
  // incremental-view-maintenance delta rule (ΔV = V(ΔB)) on the
  // transactional substrate. Bronze runs the q181 lifecycle (overwrite,
  // append, MoR delete, CoW merge with updates+inserts+reinserts,
  // optimize); polls are irregular windows plus a replay; the converged
  // silver equals plain SQL over bronze's FINAL state.
  /** The per-priority signed additive fold q182/q196 maintain: +1/+price
    * for insert & update_postimage, -1/-price for delete &
    * update_preimage (update pairs net to the price bump). Numeric merge
    * key (mergeAdditive's file pruning is range-based): the priority's
    * leading digit, the q174 convention.
    */
  private def prioFold(feed: DataFrame): DataFrame = {
    val sign = when(col("_change_type").isin("insert", Post), 1L)
      .otherwise(-1L)
    feed
      .select(expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
        .as("prio_no"), sign.as("sg"), col("o_totalprice"))
      .groupBy("prio_no")
      .agg(sum(col("sg")).as("n_orders"),
        sum((col("o_totalprice").cast(DecimalType(18, 2)) *
          col("sg")).cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("total_price"))
  }

  def q182TxIvm(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txivm_")
    val bronze = s"$tmp/orders_bronze"
    val silver = s"$tmp/prio_silver"
    val proj = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
    val base = graft.Tables.orders(s, d).select(proj.map(col): _*)
    // bronze lifecycle (v0..v4), identical membership math to q181
    TxTable.commit(s, bronze, base.filter(col("o_orderkey") % 4 < 2),
      TxTable.Overwrite, clusterBy = Some("o_orderkey"))
    TxTable.commit(s, bronze, base.filter(col("o_orderkey") % 4 === 2),
      TxTable.Append, clusterBy = Some("o_orderkey"))
    TxTable.deleteWhere(s, bronze, col("o_totalprice") < 20000.0)
    val updates = base.filter(col("o_orderkey") % 4 === 3)
      .unionByName(base
        .filter(col("o_orderkey") % 1000 === 1 && col("o_orderkey") % 4 < 3)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0))
    TxTable.mergeByKeyPruned(s, bronze, updates, "o_orderkey")
    TxTable.optimize(s, bronze, 8, clusterBy = Seq("o_orderkey"))
    // incremental consumer, on the packaged loop (cursor = silver's own
    // txn high-water; fold + cursor advance commit atomically)
    def poll(head: Long): Unit = {
      consume(s, bronze, silver, "ivm", "o_orderkey", "prio_no",
        upTo = Some(head))(prioFold)
      ()
    }
    poll(1L); poll(3L)
    poll(3L) // replayed poll: the cursor is already there — no commit
    poll(4L)
    val out = TxTable.read(s, silver)
      .select(col("prio_no"), col("n_orders"),
        col("total_price").cast("double").as("total_price"))
      .orderBy("prio_no")
    offTemp(out, tmp)
  }

  /** Bronze's final state restated directly: keys ≡ 3 (mod 4) at p; keys
    * ≡ 1 (mod 1000) among ≡ 0,1,2 (mod 4) at p+1 (survivors bumped,
    * deleted ones reinserted); everything else survives only if
    * p ≥ 20000.
    */
  val q182Sql: String =
    """WITH fin AS (
      |  SELECT o_orderpriority AS prio, o_totalprice AS p FROM orders
      |  WHERE o_orderkey % 4 = 3
      |  UNION ALL
      |  SELECT o_orderpriority, o_totalprice + 1 FROM orders
      |  WHERE o_orderkey % 4 < 3 AND o_orderkey % 1000 = 1
      |  UNION ALL
      |  SELECT o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderkey % 4 < 3 AND o_orderkey % 1000 <> 1
      |    AND o_totalprice >= 20000)
      |SELECT CAST(substring(prio, 1, 1) AS BIGINT) AS prio_no,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q196
  // Two INDEPENDENT [[consume]] consumers over one bronze lifecycle —
  // "fast" polls after every bronze version (4 windows), "slow" polls
  // once at the end (1 window covering the whole feed) — each
  // maintaining its own silver with the same fold. Because each
  // consumer's fold windows partition the same row-level feed and the
  // fold is additive, BOTH silvers converge to identical content
  // whatever the cadence; the query proves it in-plan (a symmetric
  // anti-join must be empty — a silent divergence fails the gate
  // loudly) and the oracle proves the converged content equals plain
  // SQL over bronze's final state. A replayed fast poll (same upTo)
  // must return None and leave the silver version unchanged — the
  // packaged cursor contract, asserted here and in CdfConsumeSpec.
  def q196TxCdfConsumers(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txcdfc_")
    val bronze = s"$tmp/orders_bronze"
    val fastSilver = s"$tmp/prio_fast"
    val slowSilver = s"$tmp/prio_slow"
    val proj = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
    val base = graft.Tables.orders(s, d).select(proj.map(col): _*)
    // bronze lifecycle (v0..v4): overwrite, append, MoR delete, CoW
    // merge (inserts + updates + reinserts), optimize — the q181 shapes
    // at different thresholds, so q196's oracle is its own membership
    TxTable.commit(s, bronze, base.filter(col("o_orderkey") % 4 < 2),
      TxTable.Overwrite, clusterBy = Some("o_orderkey"))
    TxTable.commit(s, bronze, base.filter(col("o_orderkey") % 4 === 2),
      TxTable.Append, clusterBy = Some("o_orderkey"))
    TxTable.deleteWhere(s, bronze, col("o_totalprice") < 50000.0)
    val updates = base.filter(col("o_orderkey") % 4 === 3)
      .unionByName(base
        .filter(col("o_orderkey") % 500 === 1 && col("o_orderkey") % 4 < 3)
        .withColumn("o_totalprice", col("o_totalprice") + 2.0))
    TxTable.mergeByKeyPruned(s, bronze, updates, "o_orderkey")
    TxTable.optimize(s, bronze, 8, clusterBy = Seq("o_orderkey"))
    val head = TxTable.currentVersion(bronze).get
    // fast consumer: one poll per bronze version
    (1L to head).foreach { h =>
      consume(s, bronze, fastSilver, "fast", "o_orderkey", "prio_no",
        upTo = Some(h))(prioFold)
    }
    // replayed poll: cursor already at head — must not commit
    val fastV = TxTable.currentVersion(fastSilver).get
    require(consume(s, bronze, fastSilver, "fast", "o_orderkey",
        "prio_no", upTo = Some(head))(prioFold).isEmpty &&
        TxTable.currentVersion(fastSilver).get == fastV,
      "replayed poll committed — the cursor contract is broken")
    // slow consumer: the whole feed in one window
    consume(s, bronze, slowSilver, "slow", "o_orderkey", "prio_no",
      upTo = Some(head))(prioFold)
    def silverOf(root: String) = TxTable.read(s, root)
      .select(col("prio_no"), col("n_orders"),
        col("total_price").cast("double").as("total_price"))
    val fast = silverOf(fastSilver)
    val slow = silverOf(slowSilver)
    val diverged = fast.exceptAll(slow).count() +
      slow.exceptAll(fast).count()
    require(diverged == 0L,
      s"fast/slow consumers diverged on $diverged silver rows")
    offTemp(fast.orderBy("prio_no"), tmp)
  }

  /** Bronze's final state restated: keys ≡ 3 (mod 4) at p; keys ≡ 1
    * (mod 500) among ≡ 0,1,2 (mod 4) at p+2 (survivors bumped, deleted
    * ones reinserted); everything else survives only if p ≥ 50000.
    */
  val q196Sql: String =
    """WITH fin AS (
      |  SELECT o_orderpriority AS prio, o_totalprice AS p FROM orders
      |  WHERE o_orderkey % 4 = 3
      |  UNION ALL
      |  SELECT o_orderpriority, o_totalprice + 2 FROM orders
      |  WHERE o_orderkey % 4 < 3 AND o_orderkey % 500 = 1
      |  UNION ALL
      |  SELECT o_orderpriority, o_totalprice FROM orders
      |  WHERE o_orderkey % 4 < 3 AND o_orderkey % 500 <> 1
      |    AND o_totalprice >= 50000)
      |SELECT CAST(substring(prio, 1, 1) AS BIGINT) AS prio_no,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q187
  // Materialized-view query ROUTING — the consumption half of q182's
  // maintenance loop: a summary table at FINER grain than the query
  // (per (priority, bucket)), registered against the base snapshot's
  // exact scan file set, and a plain aggregate over the BASE table that
  // the [[graft.plans.MatViewRouting]] optimizer rule rewrites into a
  // re-aggregation of the summary. The query text never mentions the
  // summary; the route is proven in-query (the optimized plan must scan
  // the summary and NOT the base — a silent routing failure fails the
  // gate loudly instead of passing on the base scan), and the oracle
  // proves the routed answer equals the plain aggregate's. At 100 TB
  // this replaces a fact-table scan with a kilobyte summary read.
  def q187MatviewRoute(s: SparkSession, d: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft_txmv_")
    val bronze = s"$tmp/orders_bronze"
    val silver = s"$tmp/prio_bucket_mv"
    val proj = Seq("o_orderkey", "o_orderpriority", "o_totalprice")
    TxTable.commit(s, bronze,
      graft.Tables.orders(s, d).select(proj.map(col): _*))
    // summary grain (priority, orderkey bucket) — strictly finer than
    // the query's (priority), so routing must RE-aggregate
    TxTable.commit(s, silver, TxTable.read(s, bronze)
      .withColumn("bucket", pmod(col("o_orderkey"), lit(8)))
      .groupBy("o_orderpriority", "bucket")
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("sum_price")))
    graft.plans.MatViewRouting.enable(s)
    val base = TxTable.read(s, bronze)
    graft.plans.MatViewRouting.register(base, TxTable.read(s, silver),
      "o_orderpriority", "cnt", Map("o_totalprice" -> "sum_price"))
    val routed = base.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("tp"))
    val scanned = routed.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    require(scanned.nonEmpty && scanned.forall(_.contains("prio_bucket_mv")),
      s"matview routing did not fire — scans: ${scanned.take(3)}")
    val out = routed
      .select(col("o_orderpriority"), col("n_orders"),
        col("tp").cast("double").as("total_price"))
      .orderBy("o_orderpriority")
    offTemp(out, tmp)
  }

  val q187Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q181_tx_change_feed" -> (q181TxChangeFeed _),
    "q182_tx_ivm" -> (q182TxIvm _),
    "q187_matview_route" -> (q187MatviewRoute _),
    "q196_tx_cdf_consumers" -> (q196TxCdfConsumers _))

  val oracles: Map[String, String] = Map(
    "q181_tx_change_feed" -> q181Sql,
    "q182_tx_ivm" -> q182Sql,
    "q187_matview_route" -> q187Sql,
    "q196_tx_cdf_consumers" -> q196Sql)
}
