package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.operators.TxTable

/** The incremental indexes' state substrate, re-based on [[TxTable]]
  * manifests (VERDICT r11 stretch item 8): ONE mechanism now provides
  * what r10/r11's `StateDir` batch-keyed directories (deleted in r12)
  * and the transactional table each provided separately —
  *
  *  - **idempotent replay**: each batch commits with the (appId,
  *    batchId) txn, so an at-least-once `foreachBatch` retry whose first
  *    attempt's commit landed NO-OPS at the manifest (StateDir handled
  *    this by overwriting the batch's subdir; here the second attempt
  *    writes nothing at all);
  *  - **the `< batchId` read rule**: [[readBefore]] time-travels to the
  *    newest version whose recorded high-water batch is strictly below
  *    the current one ([[TxTable.snapshotBefore]]) — a replayed batch
  *    reads exactly the history its first attempt saw, even when that
  *    attempt committed (crash between the state commit and the pair
  *    commit, ReplayIdempotenceSpec's partial case);
  *  - **snapshot isolation**: every read pins an explicit manifest file
  *    list — immune to re-listing races with concurrent commits;
  *  - **compaction**: [[compact]] is `TxTable.optimize` (a committed
  *    rewrite: content-identical by construction, crash-atomic via the
  *    manifest claim) plus retention-bounded [[TxTable.vacuum]] — the
  *    write-new-first/self-healing properties the old c-dirs
  *    hand-rolled fall out of the commit protocol;
  *  - **versioned rewrite** (q158's whole-state top-k): an Overwrite
  *    commit per batch IS the versioned rewrite; [[readBefore]] is its
  *    read half, and vacuum keeps the replay window.
  *
  * Retention contract (the old compaction contract, now
  * enforced by version count): only compact/vacuum below batches the
  * stream has COMMITTED, and keep ≥ 2 versions so a replay of the next
  * batch still resolves its pre-batch snapshot.
  *
  * Scale: a batch commit is one manifest write referencing the parent's
  * files (O(delta) data, O(F) manifest lines — linear to ≥10⁴ files,
  * SCALE.md "manifest-size → commit-cost curve"); `statsCols` on the
  * banded indexes would additionally record per-file (band, bucket)
  * ranges for manifest-level pruning — not recorded in the bounded
  * drains because every batch probes all buckets (a cluster-scale
  * deployment partitioning the index by bucket range would enable it).
  */
object TxState {

  /** One logical writer per state table. */
  private val App = "state"

  /** Idempotently append one batch's delta as a transactional commit —
    * a replayed batch finds its id at or below the head's high-water
    * mark and writes nothing. `singleFile` sizes the delta to the
    * arrival rate (the compaction-friendly CDC shape). `statsCols`
    * records per-file footer ranges on the named columns (the (band,
    * bucket) stats of r12 VERDICT task 7) — pass it with
    * `singleFile = false` and a range arrangement on those columns so
    * the files land range-tight, then [[readBeforePruned]] serves a
    * probe from only the state files whose recorded ranges intersect
    * it.
    */
  def writeBatch(df: DataFrame, root: String, batchId: Long,
      singleFile: Boolean = true,
      statsCols: Seq[String] = Seq.empty): Unit = {
    TxTable.commit(df.sparkSession, root,
      if (singleFile) df.coalesce(1) else df,
      TxTable.Append, txn = Some((App, batchId)), statsCols = statsCols)
    ()
  }

  /** Whole-state rewrite per batch (q158's top-k): Overwrite commit
    * under the same idempotent txn, then vacuum down to the replay
    * window (the previous version survives so the NEXT batch's replay
    * still resolves its pre-batch state).
    */
  def writeVersion(df: DataFrame, root: String, batchId: Long): Unit = {
    TxTable.commit(df.sparkSession, root, df.coalesce(1),
      TxTable.Overwrite, txn = Some((App, batchId)))
    TxTable.vacuum(root, keepVersions = 2)
  }

  /** The snapshot visible to `beforeBatch`, distinguishing "history is
    * genuinely empty" (None — nothing committed yet, or every commit is
    * at/after the batch AND version 0 is still retained, so the walk saw
    * the table's full history) from "vacuum dropped the snapshot this
    * replay needs" — the latter throws LOUDLY instead of returning an
    * empty history a replayed fold would silently recompute wrong
    * answers against (the retention contract, spec'd in
    * ReplayIdempotenceSpec).
    */
  private def resolveBefore(root: String,
      beforeBatch: Long): Option[TxTable.Snapshot] = {
    val snap = TxTable.snapshotBefore(root, App, beforeBatch)
    if (snap.isEmpty) {
      val vs = TxTable.versions(root)
      if (vs.headOption.exists(_ > 0L)) throw new java.io.IOException(
        s"txstate $root: batch $beforeBatch replay reads below the vacuum " +
          s"retention horizon (oldest retained version ${vs.head} does not " +
          "precede it) — widen keepVersions past the replay window")
    }
    snap
  }

  /** State visible to batch `beforeBatch`: the newest snapshot committed
    * strictly below it, as an explicit-path read. Empty (with `schema`)
    * when history is genuinely empty — the first batch of a fresh table;
    * LOUD when the needed snapshot was vacuumed (see [[resolveBefore]]).
    */
  def readBefore(s: SparkSession, root: String, schema: StructType,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    resolveBefore(root, beforeBatch) match {
      case Some(snap) if snap.files.nonEmpty =>
        s.read.schema(schema).parquet(snap.files.map(f => TxTable.absFile(root, f)): _*)
      case _ => s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    }

  /** [[readBefore]] with manifest-level stat pruning (the cluster-scale
    * follow-up of TxState's class doc, landed r13): the snapshot is
    * resolved exactly as [[readBefore]] does — same `< beforeBatch`
    * time travel, same LOUD below-horizon failure — then state files
    * whose recorded ranges (written via `writeBatch(statsCols = …)`)
    * provably miss EVERY `lo <= col <= hi` conjunct are dropped before
    * Spark plans the scan. A (file, column) without stats never prunes
    * (degrade, never lie); callers re-apply their exact predicate, so
    * the answer is identical to `readBefore(...).filter(...)` — at
    * touched-cell scan cost instead of whole-state.
    */
  def readBeforePruned(s: SparkSession, root: String, schema: StructType,
      beforeBatch: Long, preds: Seq[(String, Double, Double)]): DataFrame = {
    val files = prunedStateFiles(root, beforeBatch, preds)
    if (files.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
    else s.read.schema(schema).parquet(files.map(f => TxTable.absFile(root, f)): _*)
  }

  /** The file subset [[readBeforePruned]] would scan — also the spec
    * seam that pins pruning decisions without reading any data.
    */
  private[graft] def prunedStateFiles(root: String, beforeBatch: Long,
      preds: Seq[(String, Double, Double)]): Seq[String] =
    resolveBefore(root, beforeBatch).toSeq.flatMap(
      TxTable.statPrunedFiles(root, _, preds))

  /** Rows of history visible to `beforeBatch` — summed from the
    * manifest's per-file `rows` lines (recorded at commit time), with a
    * footer read only for files a pre-recording manifest lacks. Zero
    * I/O per call in the steady state, where the old per-call footer
    * sweep re-opened every history file EVERY batch — O(batches ×
    * files) metadata reads over a drain.
    */
  def historyRows(s: SparkSession, root: String,
      beforeBatch: Long = Long.MaxValue): Long =
    resolveBefore(root, beforeBatch) match {
      case Some(snap) =>
        val (known, unknown) = snap.files.partition(snap.rowCounts.contains)
        known.map(snap.rowCounts).sum +
          footerRows(s, unknown.map(f => TxTable.absFile(root, f)))
      case None => 0L
    }

  /** Row count of batch `batchId`'s own committed delta, from the head
    * manifest's `rows` lines — the Bloom-sizing input, no footer I/O.
    */
  def batchRows(s: SparkSession, root: String, batchId: Long): Long = {
    val after = TxTable.snapshotBefore(root, App, batchId + 1)
    val before = TxTable.snapshotBefore(root, App, batchId)
      .map(_.files.toSet).getOrElse(Set.empty)
    after match {
      case Some(snap) =>
        val added = snap.files.filterNot(before.contains)
        val (known, unknown) = added.partition(snap.rowCounts.contains)
        known.map(snap.rowCounts).sum +
          footerRows(s, unknown.map(f => TxTable.absFile(root, f)))
      case None => 0L
    }
  }

  /** Row count of parquet files from their FOOTERS — driver-side metadata
    * reads, zero Spark jobs (an Observation metric stalled every batch on
    * the async listener bus, measured +5 s over a replay; a dedicated
    * count() is a whole job of scheduling floor).
    */
  def footerRows(s: SparkSession, paths: Iterable[String]): Long = {
    val hconf = s.sparkContext.hadoopConfiguration
    paths.toSeq.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), hconf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Absolute paths of the delta files batch `batchId` contributed: the
    * difference between the snapshots visible to `batchId + 1` and to
    * `batchId`. Stable across replays — a no-oped retry resolves the
    * FIRST attempt's committed files (the ones every reader sees).
    */
  def filesOf(root: String, batchId: Long): Seq[String] = {
    val after = TxTable.snapshotBefore(root, App, batchId + 1)
      .map(_.files).getOrElse(Seq.empty)
    val before = TxTable.snapshotBefore(root, App, batchId)
      .map(_.files.toSet).getOrElse(Set.empty)
    after.filterNot(before.contains).map(f => TxTable.absFile(root, f))
  }

  /** Bound the one-file-per-batch growth: committed compaction +
    * retention vacuum. Caller contract, stated on BOTH retention axes
    * (the operational one is time): run only between drains (or below
    * the oldest batch that can still replay), and pass `retainMs` ≥ the
    * longest interval a crashed stream can sit before its driver
    * restarts it — a replay at or below the vacuum horizon cannot
    * resolve its pre-batch snapshot (it fails LOUDLY, [[resolveBefore]]).
    * `retainMs` only widens what survives, so the ≥ 2-version floor
    * that lets the NEXT batch's replay resolve its pre-batch snapshot
    * holds regardless.
    */
  def compact(s: SparkSession, root: String, targetFiles: Int = 1,
      retainMs: Long = 0L): Unit =
    if (TxTable.currentVersion(root).nonEmpty) {
      TxTable.optimize(s, root, targetFiles)
      TxTable.vacuum(root, keepVersions = 2, retainMs = retainMs)
    }

  /** TEST SEAM: drop the newest commit — simulates a crash that died
    * BEFORE this table's commit landed while a sibling table's commit
    * for the same batch did (manifest publish is atomic, so a real
    * crash leaves either this state — no manifest, orphaned data dir —
    * or the committed one; there is no torn middle).
    */
  private[graft] def dropLastCommit(root: String): Unit =
    TxTable.currentVersion(root).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root, "_manifests", f"v$v%09d.txt"))
    }
}
